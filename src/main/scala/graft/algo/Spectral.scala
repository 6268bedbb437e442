package graft.algo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.Superstep
import graft.graph.GraphOps

/** Spectral / walk-counting centralities: Katz and eigenvector. Both are
  * power iterations over the adjacency structure — the same one-join +
  * one-partial-aggregated-groupBy gather per step as PageRank, with the
  * edge table partitioned once on the gather key and only vertex-sized
  * score tables moving per iteration.
  */
object Spectral {

  /** The walk-sum power iteration shared by [[katzFixed]],
    * [[katzWalkSums]] and [[eigenvectorWalkCounts]]: the edge table is
    * src-partitioned and persisted once, and each step gathers the
    * `value` column along the edges into `s` per destination and sets
    * `value = update(s, step)` on every vertex. Each step references the
    * previous scores once, so the whole run chains lazily.
    */
  private def walkFixed(edges: DataFrame, iterations: Int, partitions: Int,
                        value: String, init: Column)(
                        update: (Column, Int) => Column): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .repartition(partitions, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts = GraphOps.vertices(e).persist(StorageLevel.MEMORY_AND_DISK)
    val out = Superstep.fixed(verts.select(col("id"), init.as(value)), iterations,
        readsPrevOnce = true) { (x, step) =>
      // shuffled-hash build of the vertex state (PageRank.stateSide
      // rationale: no stats mid-loop → SMJ re-sorts the edge side)
      val gathered = e.join(x.select(col("id").as("xid"), col(value))
          .hint("shuffle_hash"),
          col("src") === col("xid"))
        .groupBy(col("dst").as("id")).agg(sum(col(value)).as("s"))
      verts.join(gathered, Seq("id"), "left")
        .select(col("id"), update(col("s"), step).as(value))
    }
    e.unpersist(blocking = false)
    verts.unpersist(blocking = false)
    out
  }

  /** Katz centrality, fixed iterations (Katz 1953):
    *
    *   x_k(v) = β + α · Σ_{u→v} x_{k-1}(u),   x_0 = β
    *
    * i.e. after k steps x(v) = β·Σ_{j≤k} α^j (#walks of length j ending
    * at v). α must be < 1/λ_max for the infinite series to converge; the
    * fixed-iteration form is well-defined (and gate-replayable) for any
    * α. Unlike PageRank there is no per-source normalization, so hubs
    * pointed at by other hubs compound — the classic "status" index.
    */
  def katzFixed(edges: DataFrame, iterations: Int, alpha: Double = 0.005,
                beta: Double = 1.0, partitions: Int = 32): DataFrame =
    walkFixed(edges, iterations, partitions, "katz", lit(beta)) { (s, _) =>
      lit(beta) + lit(alpha) * coalesce(s, lit(0.0))
    }

  /** Katz iterate in EXACT integer arithmetic for rational α = 1/invAlpha:
    * substituting z_k = invAlpha^k · x_k into x_k = β + α·Σ x_{k-1} (β=1)
    * gives
    *
    *   z_0 = 1,   z_k(v) = invAlpha^k + Σ_{u→v} z_{k-1}(u)
    *
    * — an integer recurrence, so every intermediate is bit-replayable and
    * the caller recovers katz = z_k / invAlpha^k with ONE deterministic
    * division at the end. The double-precision [[katzFixed]] is the
    * general-α API; this is the oracle-gated form (its FP sums are
    * order-dependent and can land a half-ulp across the e6 rounding
    * boundary — observed on 3 of 295 vertices at sf0.001).
    *
    * Magnitude: z_k ≤ invAlpha^k + d_max·max z_{k-1}, so with
    * invAlpha=200, k=3, d_max≤2^20 the iterate stays far below 2^63; the
    * require guards the scale factor itself.
    */
  def katzWalkSums(edges: DataFrame, iterations: Int,
                   invAlpha: Long = 200L, partitions: Int = 32): DataFrame = {
    require(iterations >= 1 && invAlpha >= 2)
    require(BigInt(invAlpha).pow(iterations) < BigInt(Long.MaxValue) / 4,
      s"invAlpha^iterations overflows: $invAlpha^$iterations")
    walkFixed(edges, iterations, partitions, "z", lit(1L)) { (s, step) =>
      val scale = BigInt(invAlpha).pow(step).toLong
      (lit(scale) + coalesce(s, lit(0L))).cast("long")
    }
  }

  /** Eigenvector-centrality power iteration in EXACT integer arithmetic:
    *
    *   w_0(v) = 1,   w_k(v) = Σ_{u→v} w_{k-1}(u)
    *
    * so w_k(v) is precisely the number of length-k walks ending at v —
    * the un-normalized power-method iterate whose direction converges to
    * the principal eigenvector. Keeping the iterate integral makes every
    * intermediate bit-replayable by the DuckDB oracle (the engine's
    * Louvain lesson: push the floating point to the very last step); the
    * caller normalizes the final vector once (e.g. `w / Σw`, as the gate
    * does) instead of per-step, which is legal because normalization only
    * rescales direction.
    *
    * Iterates grow like λ_max^k, so keep k small (3–5) or pre-scale:
    * w_k ≤ n·d_max^k must stay under 2^63 (checked via require on the
    * caller-supplied bound when provided).
    */
  def eigenvectorWalkCounts(edges: DataFrame, iterations: Int,
                            partitions: Int = 32): DataFrame =
    walkFixed(edges, iterations, partitions, "walks", lit(1L)) { (s, _) =>
      coalesce(s, lit(0L)).cast("long")
    }

  /** Final-step normalized eigenvector scores from [[eigenvectorWalkCounts]]:
    * (id, walks, score) with score = walks / Σwalks (L1 direction). The
    * single division is the only floating-point operation in the whole
    * operator.
    */
  def eigenvectorFixed(edges: DataFrame, iterations: Int,
                       partitions: Int = 32): DataFrame = {
    val w = eigenvectorWalkCounts(edges, iterations, partitions)
    val total = w.agg(sum(col("walks")).as("_t"))
    w.crossJoin(total)
      .select(col("id"), col("walks"),
        when(col("_t") =!= 0L, col("walks").cast("double") / col("_t"))
          .otherwise(lit(0.0)).as("score"))
  }

  /** Spectral-radius (λ_max) estimate from the walk-count power method:
    *
    *   λ̂_k = Σ_v w_k(v) / Σ_v w_{k-1}(v)
    *
    * — the total number of length-k walks over length-(k−1) walks, which
    * converges to the adjacency spectral radius (the L1 analogue of the
    * Rayleigh quotient, exact on regular graphs at every k). λ_max is
    * the epidemic/percolation threshold (spread dies iff rate < 1/λ) and
    * the densest-core size proxy watched when a crawl region suddenly
    * densifies. Both sums are EXACT integers from
    * [[eigenvectorWalkCounts]], so the estimate is one integer-to-double
    * divide — bit-replayable. Same integer envelope as the walk counts:
    * n·d_max^k < 2^63.
    *
    * @return 1 row (w_prev, w_next, lambda) with lambda = w_next/w_prev
    */
  def spectralRadius(edges: DataFrame, iterations: Int,
                     partitions: Int = 32): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val wPrev = eigenvectorWalkCounts(edges, iterations - 1, partitions)
    val gathered = edges
      .join(wPrev.select(col("id").as("wid"), col("walks")).hint("shuffle_hash"),
        col("src") === col("wid"))
      .groupBy(col("dst").as("id")).agg(sum(col("walks")).as("s"))
    val sPrev = wPrev.agg(sum(col("walks")).cast("long").as("w_prev"))
    val sNext = gathered.agg(sum(col("s")).cast("long").as("w_next"))
    sPrev.crossJoin(sNext)
      .select(col("w_prev"), col("w_next"),
        when(col("w_prev") =!= 0L,
          col("w_next").cast("double") / col("w_prev"))
          .otherwise(lit(0.0)).as("lambda"))
  }

  /** Non-backtracking walk counts — power iteration on the Hashimoto
    * edge-adjacency operator (Krzakala et al., PNAS 2013): the state
    * lives on DIRECTED edges, and a step extends every walk ending on
    * edge (u,v) along each (v,w) with w ≠ u — the walk may not
    * immediately reverse. On hub-heavy graphs the ordinary eigenvector
    * localizes on the biggest hub (a hub's score feeds itself through
    * u→v→u echoes); forbidding the echo is the standard web-scale fix,
    * which is exactly why NB centrality is the spectral-detection
    * workhorse. Counts stay exact integers; per-vertex centrality after
    * k steps = Σ over incoming directed edges of the edge's walk count.
    *
    * Plan: per step one equi-join of the edge-state (keyed by its head
    * v) with the edge table (keyed by tail v) + a `w ≠ u` filter + a
    * partial-aggregated groupBy on the new directed edge — shuffle
    * bounded by Σ_v indeg(v)·outdeg(v). That wedge sum is the cost
    * envelope, so hubs above `maxDeg` out-degree are dropped from the
    * graph FIRST (capped semantics throughout, the [[graft.algo.SimRank]]
    * / CoCitation precedent): with `maxDeg` at or above the true max
    * degree the result is exact.
    *
    * @param edges directed (src, dst); pass a symmetrized table for the
    *              undirected semantics
    * @return (id, nb_count) — walks of length `iterations`+1 ending AT
    *         id, not backtracking, exact long
    */
  def nonBacktracking(edges: DataFrame, iterations: Int,
                      maxDeg: Long = 4096L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(maxDeg >= 1, s"maxDeg must be >= 1, got $maxDeg")
    val keepSrc = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
      .filter(col("od") <= maxDeg).select(col("src"))
    val e = edges.select(col("src"), col("dst"))
      .join(keepSrc, Seq("src"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ext = e.select(col("src").as("mid"), col("dst").as("to"))
    var state = e.withColumn("c", lit(1L))
    var it = 0
    while (it < iterations) {
      it += 1
      state = state
        .join(ext, col("dst") === col("mid"))
        .filter(col("to") =!= col("src")) // no immediate reversal
        .groupBy(col("mid").as("src"), col("to").as("dst"))
        .agg(sum(col("c")).as("c"))
      if (it % 3 == 0 && it < iterations)
        state = graft.engine.Materialize.eager(state).state
    }
    val out = state.groupBy(col("dst").as("id"))
      .agg(sum(col("c")).cast("long").as("nb_count"))
      .transform(graft.engine.Materialize.eager(_).state)
    e.unpersist(blocking = false)
    out
  }

  /** Closed-walk counts per vertex up to length 4 — the exact-integer
    * iterates behind subgraph centrality (Estrada & Rodríguez-Velázquez
    * 2005: SC(v) = Σ_k A^k_vv / k!, the self-returning-walk spectral
    * score that separates core pages from rank-inflated hubs). On a
    * simple undirected graph:
    *
    *   A²_vv = deg(v)
    *   A³_vv = 2·triangles(v)
    *   A⁴_vv = deg(v)² + Σ_{u≠v} cn(v,u)²    (cn = common neighbors)
    *
    * The A⁴ identity is Σ_u (A²)_{vu}² with the diagonal split out —
    * walk counts, never matrix materialization beyond the 2-walk pair
    * table. That pair table is the Σ deg² wedge population, so vertices
    * above `maxDeg` are dropped from the graph FIRST (capped semantics,
    * the [[nonBacktracking]]/SimRank contract); with the cap above the
    * true max degree the counts are exact. Callers weight the columns
    * with 1/k! driver-side (the [[katzWalkSums]] separation of exact
    * counts from float weights).
    *
    * @param edges symmetric (src, dst) slots
    * @return (id, walks2, walks3, walks4), exact longs
    */
  def closedWalkCounts(edges: DataFrame, maxDeg: Long = 4096L): DataFrame = {
    require(maxDeg >= 1, s"maxDeg must be >= 1, got $maxDeg")
    val degAll = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val keep = degAll.filter(col("od") <= maxDeg).select(col("src"))
    val e = edges.select(col("src"), col("dst"))
      .join(keep, Seq("src"), "left_semi")
      .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val tri = graft.algo.TriangleCount.perVertex(e)
    // 2-walk counts to OTHER vertices: wedge join on the mid vertex
    // (self pairs excluded — the diagonal is deg², added in closed form)
    val cnSq = e.select(col("src").as("mid"), col("dst").as("a"))
      .join(e.select(col("src").as("mid"), col("dst").as("b")), Seq("mid"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cn"))
      .groupBy(col("a").as("id"))
      .agg(sum(col("cn") * col("cn")).as("cn_sq"))
    val out = deg
      .join(tri, Seq("id"), "left")
      .join(cnSq, Seq("id"), "left")
      .select(col("id"),
        col("deg").cast("long").as("walks2"),
        (coalesce(col("triangles"), lit(0L)) * 2L).cast("long").as("walks3"),
        (col("deg") * col("deg") + coalesce(col("cn_sq"), lit(0L)))
          .cast("long").as("walks4"))
      .transform(graft.engine.Materialize.eager(_).state)
    e.unpersist(blocking = false)
    out
  }
}
