package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.{Materialize, Superstep}
import graft.graph.GraphOps

/** k-truss decomposition: the maximal subgraph whose every edge closes at
  * least k−2 triangles WITHIN the subgraph — the edge-analog of k-core and
  * the standard cohesive-community / spam-farm extractor on link graphs
  * (a k-truss is always a subgraph of the (k−1)-core, but far denser).
  *
  * Peeling loop: compute per-edge triangle support over the CURRENT edge
  * set, drop edges with support < k−2, repeat until stable. Each round's
  * support pass reuses the degree-oriented triangle enumeration
  * ([[TriangleCount.triangles]]), so the wedge blow-up stays capped at
  * O(√E) out-degree per vertex on any graph; the edge set shrinks
  * monotonically, so rounds get cheaper as they proceed.
  *
  * The working set is referenced three times per round (the triangle
  * join's three legs), so every round materializes via an eager local
  * checkpoint — the Gauss–Seidel lesson: a lazy chain would triple the
  * plan per round.
  */
object Truss {

  /** Triangle support per canonical (src<dst) edge; edges in no triangle
    * are absent (callers coalesce to 0). `oriented` is the degree-ordered
    * orientation of the SAME edge set — passed in so the caller controls
    * its persistence across the three join legs.
    */
  private def supportFrom(oriented: DataFrame): DataFrame = {
    val e1 = oriented.select(col("u").as("a"), col("v").as("b"))
    val e2 = oriented.select(col("u").as("b2"), col("v").as("c"))
    val e3 = oriented.select(col("u").as("a3"), col("v").as("c3"))
    val t = e1.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"))
      .select(col("a"), col("b"), col("c"))
    val pairs = t
      .select(least(col("a"), col("b")).as("src"),
        greatest(col("a"), col("b")).as("dst"))
      .union(t.select(least(col("b"), col("c")).as("src"),
        greatest(col("b"), col("c")).as("dst")))
      .union(t.select(least(col("a"), col("c")).as("src"),
        greatest(col("a"), col("c")).as("dst")))
    pairs.groupBy("src", "dst").agg(count(lit(1)).as("support"))
  }

  /** Per-edge triangle support of the canonical edge set. */
  def edgeSupport(canon: DataFrame): DataFrame =
    supportFrom(TriangleCount.oriented(canon))

  /** The support-and-filter peel round, a driver step. The oriented copy
    * backing the round's three triangle legs stays cached until the driver
    * has materialized the round: each call frees the previous round's
    * copy, and [[release]] frees the last one.
    */
  private final class Peel {
    private var oriented: Option[DataFrame] = None

    def release(): Unit = oriented.foreach(_.unpersist(blocking = false))

    def apply(canon: DataFrame, k: Int): DataFrame = {
      release()
      val o = TriangleCount.oriented(canon).persist(StorageLevel.MEMORY_AND_DISK)
      oriented = Some(o)
      canon.join(supportFrom(o), Seq("src", "dst"), "left")
        .filter(coalesce(col("support"), lit(0L)) >= k - 2)
        .select(col("src"), col("dst"))
    }
  }

  /** Fixed peel rounds (driver-oracle shape: the iteration count must be
    * identical across engines). Returns the surviving canonical edges.
    */
  def peelFixed(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    val canon = GraphOps.canonical(edges).transform(Materialize.eager(_).state)
    val peel = new Peel
    val out = Superstep.fixed(canon, rounds, readsPrevOnce = false)((c, _) => peel(c, k))
    peel.release()
    out
  }

  /** Full truss decomposition on a FIXED schedule — the gate-able form,
    * the edge analog of [[KCore.corenessFixed]]: for k = 3..maxK run
    * exactly `roundsPerK` support-peel rounds, each level starting from
    * the previous level's survivors (the (k+1)-truss is a subset of the
    * k-truss, so restarting per level would redo dominated work).
    * trussness(e) = the largest k whose survivor set still contains e;
    * edges surviving no level report 2 (every edge is trivially a
    * 2-truss member). With `roundsPerK` at least the true per-level
    * round count this IS the exact trussness; under-provisioned rounds
    * peel conservatively, identically on both engines.
    *
    * Scale shape: maxK·roundsPerK support passes, each the capped
    * degree-oriented triangle enumeration over a monotonically shrinking
    * edge set — the deeper levels run on the dense cohesive residue
    * only. The level memberships union'd at the end are edge-sized ×
    * (maxK−2) worst case but shrink geometrically on power-law graphs.
    */
  def trussnessFixed(edges: DataFrame, maxK: Int, roundsPerK: Int): DataFrame = {
    require(maxK >= 3 && roundsPerK >= 1)
    val all = GraphOps.canonical(edges).transform(Materialize.eager(_).state)
    val peel = new Peel
    var alive = all
    val memberships = (3 to maxK).map { k =>
      alive = Superstep.fixed(alive, roundsPerK, readsPrevOnce = false)((c, _) => peel(c, k))
      alive.select(col("src"), col("dst"), lit(k.toLong).as("k"))
    }
    peel.release()
    val best = memberships.reduce(_ union _)
      .groupBy("src", "dst").agg(max(col("k")).as("trussness"))
    all.join(best, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("trussness"), lit(2L)).as("trussness"))
  }

  /** Per-edge embeddedness profile (Granovetter / Onnela et al.): for
    * every canonical (src < dst) edge, the common-neighbor count, the
    * neighborhood-overlap ratio
    *
    *   overlap = common / (deg(u) + deg(v) − 2 − common)
    *
    * (Jaccard of the two neighborhoods minus the endpoints themselves;
    * 0 when the union is empty, i.e. two degree-1 endpoints), and the
    * local-bridge flag (common == 0: removing the edge puts its endpoints
    * ≥ 3 hops apart — Granovetter's weak tie). On a link graph, organic
    * intra-site links are highly embedded while spam/paid links and true
    * cross-topic bridges sit at overlap ≈ 0, so this is the per-edge
    * feature TrustRank-era link classifiers start from.
    *
    * Cost: one [[edgeSupport]] pass (degree-oriented triangle
    * enumeration, O(√E) wedge cap) + a degree aggregation + two
    * broadcastable joins — the k-truss round's exact shape, no window,
    * no per-edge neighborhood materialization.
    *
    * @return (src, dst, common, overlap_e6, local_bridge)
    */
  def edgeEmbeddedness(edges: DataFrame): DataFrame = {
    val canon = GraphOps.canonical(edges)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = GraphOps.degrees(edges)
    val denom = col("du") + col("dv") - lit(2) - col("common")
    val out = canon.join(edgeSupport(canon), Seq("src", "dst"), "left")
      .join(deg.select(col("id").as("src"), col("degree").as("du")), "src")
      .join(deg.select(col("id").as("dst"), col("degree").as("dv")), "dst")
      .select(col("src"), col("dst"),
        coalesce(col("support"), lit(0L)).as("common"),
        col("du"), col("dv"))
      .select(col("src"), col("dst"), col("common"),
        when(denom <= 0, lit(0L))
          .otherwise(round(col("common") * lit(1000000.0) / denom)
            .cast("long")).as("overlap_e6"),
        when(col("common") === 0, lit(1L)).otherwise(lit(0L))
          .as("local_bridge"))
      .transform(graft.engine.Materialize.eager(_).state)
    canon.unpersist(blocking = false)
    out
  }

  /** Peel to convergence on the convergence driver: the k-truss. A
    * round's probe counts the survivors, and an unchanged count is the
    * fixed point (the edge set only shrinks) — and so is an empty one
    * (the k-truss does not exist; nothing left to peel). Throws
    * IllegalArgumentException when `maxRounds` rounds do not reach the
    * fixed point.
    */
  def kTruss(edges: DataFrame, k: Int, maxRounds: Int = 1000): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    val canon = Materialize.eager(GraphOps.canonical(edges))
    var size = canon.rows
    val peel = new Peel
    val res = Superstep.converge("ktruss", canon.state, maxRounds) {
      (c, _) => peel(c, k)
    }(Superstep.Observe(_ => Nil), (_, row) => {
      val m = row.getLong(0)
      val verdict = Superstep.Verdict(size - m, 0L, m == size || m == 0L)
      size = m
      verdict
    })
    peel.release()
    require(res.converged, s"kTruss: the $k-truss did not converge in $maxRounds rounds")
    res.labels
  }

  /** Augmented Forman–Ricci curvature per canonical edge (Forman 2003,
    * adapted to complex networks by Sreejith et al. 2016 / Samal et al.
    * 2018, triangle-augmented form):
    *
    *   F#(u,v) = 4 − deg(u) − deg(v) + 3·t(u,v)
    *
    * where t(u,v) is the edge's triangle support. Exact integers
    * throughout. Strongly negative curvature marks backbone/bridge edges
    * (the mass of a web graph's inter-community links); non-negative
    * curvature marks redundant intra-community edges — the curvature
    * histogram is a one-pass community-structure fingerprint and the
    * per-edge score is a cheap sparsification/robustness signal (prune
    * the most positively curved first, never the negative backbone).
    *
    * Cost: one [[edgeSupport]] pass (degree-oriented, O(√E) wedge cap)
    * + a degree aggregation + two broadcastable joins — identical plan
    * shape to [[edgeEmbeddedness]]. The 100 TB story is the truss
    * round's: no windows, no neighborhood materialization.
    *
    * @return (src, dst, curvature) — canonical src < dst, exact long
    */
  def formanCurvature(edges: DataFrame): DataFrame = {
    val canon = GraphOps.canonical(edges)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = GraphOps.degrees(edges)
    val out = canon.join(edgeSupport(canon), Seq("src", "dst"), "left")
      .join(deg.select(col("id").as("src"), col("degree").as("du")), "src")
      .join(deg.select(col("id").as("dst"), col("degree").as("dv")), "dst")
      .select(col("src"), col("dst"),
        (lit(4L) - col("du") - col("dv")
          + lit(3L) * coalesce(col("support"), lit(0L)))
          .cast("long").as("curvature"))
      .transform(graft.engine.Materialize.eager(_).state)
    canon.unpersist(blocking = false)
    out
  }
}
