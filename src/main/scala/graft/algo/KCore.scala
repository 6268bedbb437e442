package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.Superstep
import graft.graph.GraphOps

/** k-core decomposition by distributed peeling — the standard
  * spam-farm / link-ring detector over a web link graph (a dense core
  * survives peeling; organic pages don't).
  *
  * One peel round removes every vertex whose CURRENT degree (within the
  * surviving subgraph) is below k:
  *
  *   V_t = { v ∈ V_{t-1} : deg_{G[V_{t-1}]}(v) ≥ k }
  *
  * Round cost: one semi-join restricting the edge table to surviving
  * endpoints (bounded by the surviving edge set, shrinking every round)
  * plus one partial-aggregated degree count — no all-pairs anything, so
  * the 100 TB shape is scan + 2 shuffles per round, on a monotonically
  * shrinking input. The fixed point (usually ≤ tens of rounds on web
  * graphs) is the exact k-core.
  *
  * The surviving-vertex state feeds two semi-joins per round, so every
  * round's state is truncated before the next round reads it
  * (twice-referenced state in a lazy chain doubles the plan per round):
  * eagerly on the fixed schedules, by the convergence driver's probe on
  * the fixpoint forms.
  */
object KCore {

  /** k must be ≥ 1: vertices whose surviving degree drops to 0 vanish
    * from the degree groupBy and are peeled unconditionally, so k ≤ 0
    * would silently return the 1-core instead of "all vertices" (and
    * isolated vertices are never in the vertex set to begin with —
    * vertices are edge endpoints). Guarded rather than patched: the
    * 0-core of an edge-defined graph is just `vertices(edges)`
    * (ADVICE r3).
    */
  private def requireValidK(k: Long): Unit =
    require(k >= 1, s"k-core requires k >= 1 (got $k); the 0-core is " +
      "GraphOps.vertices(edges) by definition")

  /** One unweighted peel round, lazy: the vertices of `alive` with at
    * least k neighbors in `alive` (two semi-joins restrict the symmetric
    * edge table `e`, then one partial-aggregated degree count).
    */
  private def peel(e: DataFrame, alive: DataFrame, k: Long): DataFrame =
    e.join(alive.select(col("id").as("sid")), col("src") === col("sid"), "left_semi")
      .join(alive.select(col("id").as("did")), col("dst") === col("did"), "left_semi")
      .groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
      .select(col("id"))

  /** Peels level k from `alive` (`n` vertices) to its fixed point on the
    * convergence driver: a round's probe counts the survivors, and an
    * unchanged survivor set is the fixed point — and so is an empty one
    * (the k-core does not exist; nothing left to peel).
    *
    * @return (survivors, rounds run, converged, survivor count)
    */
  private def peelToCore(e: DataFrame, alive: DataFrame, n: Long, k: Long,
                         maxRounds: Int): (DataFrame, Int, Boolean, Long) = {
    var left = n
    val res = Superstep.converge("kcore", alive, if (n == 0L) 0 else maxRounds) {
      (a, _) => peel(e, a, k)
    }((next, _, _) => next.agg(count(lit(1))), (_, row) => {
      val m = row.getLong(0)
      val verdict = Superstep.Verdict(left - m, 0L, m == left || m == 0L)
      left = m
      verdict
    })
    (res.labels, res.iterations, res.converged, left)
  }

  /** Exactly `rounds` peel rounds — the gate-able fixed-schedule form
    * (after convergence it equals the true k-core).
    */
  def peelFixed(edges: DataFrame, k: Long, rounds: Int): DataFrame = {
    requireValidK(k)
    val e = GraphOps.symmetrize(edges.select("src", "dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var alive = GraphOps.vertices(e)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var r = 0
    while (r < rounds) {
      r += 1
      val next = peel(e, alive, k).localCheckpoint(eager = true)
      alive.unpersist(blocking = false)
      alive = next
    }
    e.unpersist(blocking = false)
    alive
  }

  /** Weighted (s-)core: exactly `rounds` peel rounds keeping vertices
    * whose STRENGTH — the sum of incident edge weights to still-alive
    * neighbors — stays ≥ `s` (Eidsaa–Almaas s-core, the k-core analogue
    * on weighted link graphs where a host pair's weight is its url-link
    * multiplicity). Input must already be symmetric with integer weights
    * (the Pajek/host-graph contract), so strength is an exact integer
    * and every round is bit-replayable. Same two-semi-join + hash-agg
    * round shape as [[peelFixed]]; after convergence it equals the true
    * s-core.
    */
  def weightedCoreFixed(weightedEdges: DataFrame, s: Long,
                        rounds: Int): DataFrame = {
    require(s >= 1, s"s-core requires s >= 1, got $s")
    val e = weightedEdges.select(col("src"), col("dst"), col("weight"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var alive = GraphOps.vertices(e)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var r = 0
    while (r < rounds) {
      r += 1
      val sub = e
        .join(alive.select(col("id").as("sid")), col("src") === col("sid"), "left_semi")
        .join(alive.select(col("id").as("did")), col("dst") === col("did"), "left_semi")
      val next = sub.groupBy(col("src").as("id"))
        .agg(sum(col("weight")).cast("long").as("strength"))
        .filter(col("strength") >= s)
        .select(col("id"))
        .localCheckpoint(eager = true)
      alive.unpersist(blocking = false)
      alive = next
    }
    e.unpersist(blocking = false)
    alive
  }

  /** Peel to the fixed point: the exact k-core vertex set. Returns
    * (core vertices, rounds run, converged).
    */
  def kCore(edges: DataFrame, k: Long,
            maxRounds: Int = 10000): (DataFrame, Int, Boolean) = {
    requireValidK(k)
    val e = GraphOps.symmetrize(edges.select("src", "dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts = GraphOps.vertices(e).persist(StorageLevel.MEMORY_AND_DISK)
    val (core, rounds, converged, _) = peelToCore(e, verts, verts.count(), k, maxRounds)
    if (core ne verts) verts.unpersist(blocking = false)
    e.unpersist(blocking = false)
    (core, rounds, converged)
  }

  /** One fixed-schedule peel pass at level k starting from `alive`
    * (shared by both coreness forms below): `rounds` degree-filter
    * rounds against the full symmetrized edge table.
    */
  private def peelRounds(e: DataFrame, alive0: DataFrame, k: Long,
                         rounds: Int): DataFrame = {
    var alive = alive0
    var r = 0
    while (r < rounds) {
      r += 1
      alive = peel(e, alive, k).localCheckpoint(eager = true)
    }
    alive
  }

  /** Full coreness decomposition on a FIXED schedule — the gate-able
    * form: for k = 1..maxK run exactly `roundsPerK` peel rounds, each
    * level starting from the previous level's survivors (the (k+1)-core
    * is a subset of the k-core, so restarting from scratch per level
    * would redo strictly dominated work). coreness(v) = the largest k
    * whose survivor set still contains v (0 if peeled at k=1 within the
    * schedule). With `roundsPerK` at least the true per-level round
    * count this IS the exact coreness; under-provisioned rounds peel
    * less, never more — and the oracle replays the identical schedule.
    *
    * Per level the work is `roundsPerK` × (two semi-joins + one
    * partial-aggregated degree count) on a monotonically shrinking
    * survivor set; membership snapshots are vertex-sized and already
    * materialized, so the final max-k reduction is one union + one
    * groupBy over ≤ maxK vertex-sized tables.
    */
  def corenessFixed(edges: DataFrame, maxK: Int, roundsPerK: Int): DataFrame = {
    require(maxK >= 1 && roundsPerK >= 1)
    val e = GraphOps.symmetrize(edges.select("src", "dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts = GraphOps.vertices(e).persist(StorageLevel.MEMORY_AND_DISK)
    var alive = verts
    val memberships = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var k = 1L
    while (k <= maxK) {
      alive = peelRounds(e, alive, k, roundsPerK)
      memberships += alive.select(col("id"), lit(k).as("k"))
      k += 1
    }
    val out = memberships.reduce(_ union _)
      .groupBy("id").agg(max(col("k")).as("coreness"))
    val res = verts.join(out, Seq("id"), "left")
      .select(col("id"), coalesce(col("coreness"), lit(0L)).as("coreness"))
      .localCheckpoint(eager = true)
    e.unpersist(blocking = false)
    verts.unpersist(blocking = false)
    res
  }

  /** Exact coreness (graph degeneracy decomposition): per level peel to
    * the fixed point, advance k until the survivor set empties. The
    * largest k with a non-empty fixed point is the degeneracy; total
    * outer levels = degeneracy + 1 (small on real web graphs — tens).
    */
  def coreness(edges: DataFrame, maxRoundsPerK: Int = 10000): DataFrame = {
    val e = GraphOps.symmetrize(edges.select("src", "dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts = GraphOps.vertices(e).persist(StorageLevel.MEMORY_AND_DISK)
    var alive = verts
    var n = alive.count()
    val memberships = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var k = 1L
    while (n > 0L) {
      val (core, _, converged, m) = peelToCore(e, alive, n, k, maxRoundsPerK)
      require(converged,
        s"coreness: the $k-core did not converge in $maxRoundsPerK rounds")
      if (m > 0L) memberships += core.select(col("id"), lit(k).as("k"))
      alive = core
      n = m
      k += 1
    }
    val out =
      if (memberships.isEmpty) verts.select(col("id"), lit(0L).as("coreness")).limit(0)
      else memberships.reduce(_ union _)
        .groupBy("id").agg(max(col("k")).as("coreness"))
    val res = verts.join(out, Seq("id"), "left")
      .select(col("id"), coalesce(col("coreness"), lit(0L)).as("coreness"))
      .localCheckpoint(eager = true)
    e.unpersist(blocking = false)
    verts.unpersist(blocking = false)
    res
  }

  /** Onion decomposition (Hébert-Dufresne, Grochow & Allard 2016) on the
    * [[corenessFixed]] schedule: each vertex gets the index of the
    * (k, round) peel step that removed it — the WITHIN-shell layering
    * coreness flattens (two vertices of equal coreness can sit at very
    * different depths of their shell; the layer spectrum separates
    * tree-like periphery from dense-core interiors on web graphs).
    *
    * Schedule: for k = 1..maxK, `roundsPerK` rounds each; a vertex
    * removed at level k, round r has layer = (k−1)·roundsPerK + r;
    * survivors of the whole schedule get layer maxK·roundsPerK + 1 (the
    * deep core). Same fixed-schedule gate-ability argument as
    * [[corenessFixed]]: the oracle replays the identical (k, r) grid.
    *
    * Scale shape: the peel loop is corenessFixed's (two semi-joins + one
    * partial-aggregated degree count per round, monotonically shrinking
    * survivor set); the only addition is one vertex-sized anti-join per
    * round to name that round's removals — each removal lands in exactly
    * one layer, so the union of removal tables is vertex-sized total,
    * not per-round-sized.
    *
    * @return (id, layer) — layer ≥ 1, dense-core survivors at
    *         maxK·roundsPerK + 1
    */
  def onionLayersFixed(edges: DataFrame, maxK: Int, roundsPerK: Int): DataFrame = {
    require(maxK >= 1 && roundsPerK >= 1)
    val e = GraphOps.symmetrize(edges.select("src", "dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts = GraphOps.vertices(e).persist(StorageLevel.MEMORY_AND_DISK)
    var alive = verts
    val layers = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var k = 1
    while (k <= maxK) {
      var r = 1
      while (r <= roundsPerK) {
        val next = peelRounds(e, alive, k.toLong, 1)
        val layer = ((k - 1) * roundsPerK + r).toLong
        layers += alive.join(next.select(col("id")), Seq("id"), "left_anti")
          .select(col("id"), lit(layer).as("layer"))
        alive = next
        r += 1
      }
      k += 1
    }
    layers += alive.select(col("id"),
      lit((maxK * roundsPerK + 1).toLong).as("layer"))
    val res = layers.reduce(_ union _).localCheckpoint(eager = true)
    e.unpersist(blocking = false)
    verts.unpersist(blocking = false)
    res
  }
}
