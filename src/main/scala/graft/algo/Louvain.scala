package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.{Materialize, Superstep}
import graft.graph.GraphOps

/** Deterministic synchronous Louvain — modularity-ascent community
  * detection, the quality-driven companion to the reference's label
  * propagation (LP floods by vote count; Louvain moves by modularity
  * gain, the de-facto standard for web-graph community structure).
  *
  * Classic Louvain (Blondel et al. 2008) visits vertices sequentially —
  * irreproducible in a distributed setting for the same reason as the
  * reference's async LP schedules. This variant is the standard
  * synchronous relaxation with two pinned rules that make it both
  * deterministic and convergent:
  *
  *   1. STRICT IMPROVEMENT: a vertex moves only when the best candidate
  *      strictly beats staying (ties prefer the own community, then the
  *      minimum community id). Zero-gain hops otherwise wander the
  *      modularity plateau indefinitely (measured: a tie-permissive
  *      sweep loop on karate burned its entire round budget).
  *   2. DIRECTION ALTERNATION: odd rounds admit only foreign candidates
  *      with a SMALLER community id than the mover's, even rounds only
  *      LARGER. Lock-step simultaneous moves otherwise let groups of
  *      adjacent vertices swap into each other's communities forever —
  *      the known pathology of parallel Louvain (measured here:
  *      undamped sync collapses karate to Q ≈ 0.01 vs the published
  *      ≈ 0.42, and a singleton-only damping rule still left 40-vertex
  *      groups bouncing). With one admissible direction per round no
  *      symmetric swap can fire inside a round; community labels are
  *      arbitrary, so the restriction costs little — a merge blocked in
  *      one direction is reachable in the other, one round later.
  *
  * The gain comparison is EXACT INTEGER arithmetic: for vertex i and
  * candidate community d, the (constant-shifted, 2m²-scaled) modularity
  * delta reduces to
  *
  *   score(i, d) = 2m·k_{i,d} − k_i·Σtot'_d,
  *   Σtot'_d = Σtot_d − k_i  if d = com(i)  else  Σtot_d
  *
  * where k_{i,d} is i's weight into d, k_i its total strength, and
  * Σtot_d the community's total strength — all integral for integral
  * weights, so the argmax is bit-reproducible on any engine (the same
  * no-FP trick as the assortativity and argmax operators). Envelope:
  * 2m·k_{i,d} and k_i·Σtot_d must stay < 2^63 — holds through 10^9-edge
  * communities at unit weights; beyond that swap the score to DECIMAL.
  *
  * Plan shape per move round (the 100 TB question): one gather join
  * (edges ⋈ assignment on dst — the LP superstep's join, same
  * dst-partitioning reuse applies) + vertex-sized joins and
  * partial-aggregated groupBys. Nothing touches edges², the only
  * edge-sized shuffle keys on the gather key, and one round is one
  * superstep-shaped job — no per-class sequential barriers. The
  * assignment is referenced several times per round, so rounds are
  * eagerly truncated like the engine's other multi-reference loops.
  *
  * Level contraction ([[aggregateGraph]]) is one double-join + groupBy:
  * communities become super-vertices, intra-community mass becomes
  * self-loops, exactly Louvain phase 2. [[run]] alternates move rounds
  * and contractions, composing the per-level assignments back onto the
  * original vertex ids.
  */
object Louvain {

  /** Total strength (weighted degree over directed slots) per vertex. */
  def strengths(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("id")).agg(sum(col("weight")).cast("long").as("k"))

  /** One synchronous move round against the previous assignment.
    *
    * @param edges     symmetrized (src, dst, weight: integral); contracted
    *                  levels carry self-loops — they count in strengths
    *                  and Σtot but are excluded from the candidate gather
    * @param strength  (id, k) from [[strengths]] — computed once per level
    * @param assign    (id, com)
    * @param m2        Σ weight over all directed slots (= 2m), a per-level
    *                  constant
    * @param round     1-based round number — odd rounds admit only
    *                  smaller-id target communities, even rounds only
    *                  larger (direction alternation, rule 2 above)
    */
  def moveRound(edges: DataFrame, strength: DataFrame, assign: DataFrame,
                m2: Long, round: Int): DataFrame = {
    // Σtot per community (self-strength included — the score subtracts
    // k_i again for the own-community candidate)
    // vertex-state side hash-built (guide §3.1): both sides are
    // vertex-sized, too large to broadcast at scale, so the planner would
    // sort-merge; strength is the persisted side → build it
    val tot = assign.join(strength.hint("shuffle_hash"), "id")
      .groupBy(col("com")).agg(sum(col("k")).as("tot"))
    // k_{i,d}: i's weight into each neighbor community, neighbors j ≠ i
    // shuffled-hash build of the vertex-sized assignment state
    // (PageRank.stateSide rationale: sort-merge would re-sort the edge
    // side every round)
    val kid = edges.filter(col("src") =!= col("dst"))
      .join(assign.select(col("id").as("nid"), col("com")).hint("shuffle_hash"),
        col("dst") === col("nid"))
      .groupBy(col("src").as("id"), col("com"))
      .agg(sum(col("weight")).cast("long").as("kid"))
    // candidates = neighbor communities ∪ the own community (kid 0 when no
    // neighbor shares it); summing merges the duplicate own-community row
    val cand = kid
      .unionByName(assign.select(col("id"), col("com"), lit(0L).as("kid")))
      .groupBy(col("id"), col("com")).agg(sum(col("kid")).as("kid"))
    // strength/assign are vertex-sized state (never broadcastable at
    // web scale) → hash builds; tot is COMMUNITY-sized and shrinks per
    // level, so it stays stats/AQE-driven — broadcast is the right
    // strategy for it exactly when it is small
    val scored = cand
      .join(tot, "com")
      .join(strength.hint("shuffle_hash"), "id")
      .join(assign.select(col("id"), col("com").as("ownCom"))
        .hint("shuffle_hash"), "id")
      .select(col("id"), col("com"), col("ownCom"),
        (lit(m2) * col("kid") -
          col("k") * when(col("com") === col("ownCom"), col("tot") - col("k"))
            .otherwise(col("tot"))).as("score"))
    // direction alternation: one admissible move direction per round
    val admissible = scored.filter(
      col("com") === col("ownCom") ||
        (if (round % 2 == 1) col("com") < col("ownCom")
         else col("com") > col("ownCom")))
    pickMoves(admissible)
  }

  /** Exact-integer argmax with Louvain's move rule, hash-aggregate only:
    * max score → join back → among the maxima PREFER THE OWN COMMUNITY
    * (move only on strict improvement), else the minimum community id.
    */
  private def pickMoves(scored: DataFrame): DataFrame = {
    val mx = scored.groupBy(col("id")).agg(max(col("score")).as("mx"))
      .select(col("id").as("mid"), col("mx"))
    // vertex-sized max table hash-built against the candidate stream
    scored.join(mx.hint("shuffle_hash"),
        col("id") === col("mid") && col("score") === col("mx"))
      .groupBy(col("id")).agg(
        max(when(col("com") === col("ownCom"), 1L).otherwise(0L)).as("hasOwn"),
        min(col("com")).as("minCom"),
        min(when(col("com") === col("ownCom"), col("com"))).as("own"))
      .select(col("id"),
        when(col("hasOwn") === 1L, col("own")).otherwise(col("minCom")).as("com"))
  }

  /** `rounds` synchronous move rounds from the singleton assignment —
    * the gate-able fixed-schedule form. The assignment is referenced
    * several times per round, so every round is eagerly truncated.
    */
  def moveFixed(edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.persist(StorageLevel.MEMORY_AND_DISK)
    val strength = strengths(e).persist(StorageLevel.MEMORY_AND_DISK)
    val m2 = e.agg(sum(col("weight")).cast("long")).first().getLong(0)
    // truncate the initial assignment too: moveRound references it four
    // times (tot, k_id, candidates, own-community join), so a lazy
    // vertices().distinct subtree would be recomputed per reference
    val init = GraphOps.vertices(e).select(col("id"), col("id").as("com"))
      .transform(Materialize.eager(_).state)
    val assign = Superstep.fixed(init, rounds, readsPrevOnce = false)(
      moveRound(e, strength, _, m2, _))
    strength.unpersist(blocking = false)
    e.unpersist(blocking = false)
    assign
  }

  /** Louvain phase 2: contract communities to super-vertices; parallel
    * edges merge by weight sum and intra-community mass becomes
    * self-loops (required for the next level's Σtot accounting).
    */
  def aggregateGraph(edges: DataFrame, assign: DataFrame): DataFrame =
    edges
      .join(assign.select(col("id").as("sid"), col("com").as("srcCom"))
        .hint("shuffle_hash"), col("src") === col("sid"))
      .join(assign.select(col("id").as("did"), col("com").as("dstCom"))
        .hint("shuffle_hash"), col("dst") === col("did"))
      .groupBy(col("srcCom").as("src"), col("dstCom").as("dst"))
      .agg(sum(col("weight")).cast("long").as("weight"))

  /** Full multi-level Louvain: per level run synchronous move rounds
    * until a round moves nothing (or `maxRoundsPerLevel`), contract,
    * repeat until contraction stops shrinking the graph (or
    * `maxLevels`). Returns (final assignment on ORIGINAL vertex ids,
    * levels run).
    */
  def run(edges: DataFrame, maxLevels: Int = 5,
          maxRoundsPerLevel: Int = 15): (DataFrame, Int) = {
    var g = edges.persist(StorageLevel.MEMORY_AND_DISK)
    var nVerts = GraphOps.vertices(g).count()
    // composed assignment original-id → current community
    var composed = GraphOps.vertices(g).select(col("id"), col("id").as("com"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var level = 0
    var shrinking = true
    while (shrinking && level < maxLevels) {
      level += 1
      val strength = strengths(g).persist(StorageLevel.MEMORY_AND_DISK)
      val m2 = g.agg(sum(col("weight")).cast("long")).first().getLong(0)
      val single = GraphOps.vertices(g).select(col("id"), col("id").as("com"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // move rounds until one moves nothing: each row carries its previous
      // community, so the round's truncation observes the moved count; the
      // vertex-sized prev side is hash-built (guide §3.1)
      val moved = Superstep.converge("louvain", single, maxRoundsPerLevel) { (prev, r) =>
        val last = prev.select(col("id"), col("com"))
        moveRound(g, strength, last, m2, r)
          .join(last.withColumnRenamed("com", "prev").hint("shuffle_hash"), "id")
      }(Superstep.changedRows("com", "prev"), Superstep.untilZero)
      val assign = moved.labels.select(col("id"), col("com"))
      strength.unpersist(blocking = false)
      // compose onto original ids, contract, and decide whether to go on
      val newComposed = composed.alias("c")
        .join(assign.alias("a").hint("shuffle_hash"),
          col("c.com") === col("a.id"))
        .select(col("c.id"), col("a.com"))
        .transform(Materialize.eager(_).state)
      composed.unpersist(blocking = false)
      composed = newComposed
      val contracted = aggregateGraph(g, assign)
        .transform(Materialize.eager(_).state)
      single.unpersist(blocking = false)
      val nNew = GraphOps.vertices(contracted).count()
      g.unpersist(blocking = false)
      g = contracted
      shrinking = nNew < nVerts
      nVerts = nNew
    }
    g.unpersist(blocking = false)
    (composed, level)
  }

  /** Leiden-style connectivity refinement (Traag et al. 2019, the fix
    * for Louvain's one guarantee gap): any community that is internally
    * DISCONNECTED is split into its connected parts. Runs CC over the
    * intra-community edge subgraph and relabels each vertex by the min
    * vertex id of its intra-component; vertices with no intra-community
    * neighbor become singletons. Refined labels are globally unique
    * without any label arithmetic because intra-components partition the
    * vertex set.
    *
    * Cost: one two-sided label join to carve the intra subgraph + one
    * alternating CC over it (O(log n) rounds) — community-agnostic, so
    * no per-community work, no windows. Run after [[run]] or after any
    * LP labeling before publishing communities; modularity can only
    * change by the split (never merges), and every published community
    * is certified connected.
    *
    * @param labels (id, label) covering every vertex of `edges`
    * @return (id, label, refined) — `refined` the connectivity-certified
    *         community id
    */
  def refineConnected(edges: DataFrame, labels: DataFrame): DataFrame = {
    val intra = edges
      .join(labels.select(col("id").as("src"), col("label").as("ls")), "src")
      .join(labels.select(col("id").as("dst"), col("label").as("ld")), "dst")
      .filter(col("ls") === col("ld"))
      .select(col("src"), col("dst"))
    val comp = ConnectedComponents.runAlternating(intra)
      .select(col("id"), col("label").as("comp"))
    labels.join(comp, Seq("id"), "left")
      .select(col("id"), col("label"),
        coalesce(col("comp"), col("id")).as("refined"))
  }
}
