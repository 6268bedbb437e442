package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.{Materialize, Superstep}
import graft.graph.GraphOps

/** Strongly connected components of the DIRECTED link graph — the
  * operator behind the web's bow-tie decomposition (giant SCC, IN, OUT,
  * tendrils). Complements [[ConnectedComponents]] (undirected) the way
  * HITS complements PageRank: it is the second operator in the engine
  * that consumes the raw edge direction.
  *
  * Algorithm: the coloring / forward-max algorithm (Orzan's FB-coloring,
  * the standard Pregel-style SCC — Tarjan is inherently sequential):
  *
  *   repeat until no vertices remain:
  *     1. COLOR: propagate color(v) = max(v, max_{u→v} color(u)) to the
  *        fixpoint over the remaining subgraph — color(v) is the largest
  *        vertex id that forward-reaches v. Every color class c contains
  *        its root c (if some w > c reached c, everything c reaches would
  *        be colored ≥ w, contradiction).
  *     2. BACKWARD: multi-source BFS from all roots simultaneously along
  *        REVERSED edges, restricted to each root's own color class —
  *        the vertices that reach their root AND share its color are
  *        exactly the root's SCC (Orzan's theorem).
  *     3. Peel those SCCs off and repeat on the rest.
  *
  * Per outer round: one color fixpoint (O(longest remaining path)
  * supersteps of the CC skeleton with max instead of min) + one
  * multi-source backward BFS (O(SCC diameter) levels) — every step the
  * same gather join + partial-aggregated groupBy shape as LP/CC, nothing
  * ever touches edges². Web graphs finish in a handful of outer rounds
  * (one giant SCC plus trivial ones; each round removes at least every
  * current color root's SCC). Output labels are CANONICAL — each SCC is
  * labeled with its minimum member id — so results are independent of
  * the peeling order and directly comparable to a mutual-reachability
  * oracle.
  */
object StronglyConnected {

  /** (id, scc) for every vertex of the directed graph; scc = min member
    * id of the vertex's strongly connected component.
    */
  def run(edges: DataFrame, maxOuterRounds: Int = 100): (DataFrame, Int) = {
    val e0 = GraphOps.dropSelfLoops(edges.select(col("src"), col("dst")))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val vertices = GraphOps.vertices(e0).localCheckpoint(eager = false)
    var nRemaining = vertices.count()
    if (nRemaining == 0L) { // empty edge set: no vertices, no rounds
      e0.unpersist(blocking = false)
      return (edges.sparkSession.range(0)
        .select(col("id"), col("id").as("scc")), 0)
    }
    val assigned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // outer round: peel the SCCs of every current color root; the probe
    // counts the vertices that remain
    val peel = Superstep.converge("scc_peel", vertices, maxOuterRounds) { (remaining, _) =>
      // remaining subgraph (both endpoints alive)
      val sub = e0
        .join(remaining.select(col("id").as("sid")), col("src") === col("sid"), "left_semi")
        .join(remaining.select(col("id").as("did")), col("dst") === col("did"), "left_semi")
        .transform(Materialize.eager(_).state)
      // 1. forward max-color fixpoint. A color travels one edge per round
      //    along a simple path, so `nRemaining` rounds always suffice.
      val cap = math.min(nRemaining, Int.MaxValue.toLong).toInt
      val fixpoint = Superstep.converge("scc_color",
          remaining.select(col("id"), col("id").as("color")), cap) { (colors, _) =>
        // self-message fold (the CC superstep shape with max for min):
        // max(own ∪ predecessor colors) needs no keep-previous join, and
        // the own message carries the previous color for the probe; the
        // color state hash-builds (PageRank.stateSide rationale) instead
        // of re-sorting the subgraph every round
        sub
          .join(colors.select(col("id").as("cid"), col("color"))
            .hint("shuffle_hash"), col("src") === col("cid"))
          .select(col("dst").as("id"), col("color"), lit(null).cast("long").as("own"))
          .union(colors.select(col("id"), col("color"), col("color").as("own")))
          .groupBy("id").agg(max(col("color")).as("color"), max(col("own")).as("prev"))
      }(Superstep.changedRows("color", "prev"), Superstep.untilZero)
      require(fixpoint.converged,
        s"SCC coloring did not converge in $nRemaining rounds")
      val colors = fixpoint.labels
      // 2. backward BFS from every root within its own color class; a
      //    reached vertex's root is its color, so (id, dist) suffices.
      //    A backward path has fewer than `nRemaining` edges.
      val reached = Superstep.converge("scc_backward",
          colors.filter(col("id") === col("color")).select(col("id"), lit(0).as("dist")),
          cap) { (visited, i) =>
        // predecessors u of the frontier (edge u→v) with
        // color(u) == color(v) — the within-class restriction is safe:
        // every vertex on any v→root path of a same-color v is itself
        // colored by that root (the root reaches it, and a larger color
        // on it would contradict color(v) = root)
        val found = sub
          .join(visited.filter(col("dist") === i - 1).select(col("id").as("fid")),
            col("dst") === col("fid"))
          .join(colors.select(col("id").as("fid2"), col("color").as("fcolor")),
            col("fid") === col("fid2"))
          .join(colors.select(col("id").as("uid"), col("color").as("ucolor")),
            col("src") === col("uid"))
          .filter(col("ucolor") === col("fcolor"))
          .select(col("src").as("id")).distinct()
          .join(visited, Seq("id"), "left_anti")
        Superstep.appendRows(visited, found.select(col("id"), lit(i).as("dist")))
      }(Superstep.newRows("dist"), Superstep.untilZero).labels
      // the reached set of this round: all vertices that backward-reach
      // their color root within the class → SCC membership keyed by color
      val sccs = reached.select(col("id")).join(colors, Seq("id"))
        .select(col("id"), col("color").as("root"))
        .transform(Materialize.eager(_).state)
      assigned += sccs
      remaining.join(sccs.select(col("id")), Seq("id"), "left_anti")
    }(Superstep.Observe(_ => Nil), (_, row) => {
      val left = row.getLong(0)
      val verdict = Superstep.Verdict(nRemaining - left, 0L, left == 0L)
      nRemaining = left
      verdict
    })
    require(peel.converged,
      s"SCC peeling did not converge in $maxOuterRounds rounds")
    // canonical labels: scc = min member id per root
    val membership = assigned.reduce(_ union _)
    val canon = membership.groupBy(col("root")).agg(min(col("id")).as("scc"))
    val out = membership.join(canon, "root").select(col("id"), col("scc"))
    e0.unpersist(blocking = false)
    (out, peel.iterations)
  }

  /** Condensation of the directed graph: contract every SCC to one node
    * (its canonical min-member label) and keep the distinct inter-SCC
    * edges. The result is a DAG — the web's macro-structure graph that
    * bow-tie, frontier scheduling, and dependency analyses run on.
    * Cost beyond [[run]]: two vertex-sized label joins + one distinct
    * over the edge table, all equi-joins on the edge key.
    *
    * @return (vertex labels (id, scc), condensation edges (csrc, cdst))
    */
  def condense(edges: DataFrame): (DataFrame, DataFrame) = {
    val directed = GraphOps.dropSelfLoops(edges.select(col("src"), col("dst")))
      .distinct()
    val (labels, _) = run(directed)
    val l = labels.persist(StorageLevel.MEMORY_AND_DISK)
    val ce = directed
      .join(l.select(col("id").as("sid"), col("scc").as("csrc")),
        col("src") === col("sid"))
      .join(l.select(col("id").as("did"), col("scc").as("cdst")),
        col("dst") === col("did"))
      .filter(col("csrc") =!= col("cdst"))
      .select(col("csrc"), col("cdst")).distinct()
      .transform(Materialize.eager(_).state)
    l.unpersist(blocking = false)
    (labels, ce)
  }

  /** Longest-path level of every node of a DAG (e.g. the condensation
    * from [[condense]]): level(v) = 0 for sources, else
    * 1 + max over predecessors — the topological depth used for staged
    * crawl scheduling and dependency layering.
    *
    * Jacobi fixpoint of level(v) = max(level(v), 1 + max_{u→v} level(u)),
    * initialized all-zero: in a DAG every maximal path starts at a
    * source, so the all-zero start converges to the longest-path depth in
    * (depth) rounds, each one gather join + partial-aggregated max — the
    * CC skeleton with max-plus instead of min. `maxRounds` doubles as a
    * cycle guard: a cycle never stabilizes, so exceeding it throws
    * instead of silently looping.
    */
  def dagLevels(compEdges: DataFrame, maxRounds: Int = 1000): DataFrame = {
    val e = compEdges.select(col("csrc"), col("cdst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val lv0 = e.select(col("csrc").as("comp"))
      .union(e.select(col("cdst"))).distinct()
      .select(col("comp"), lit(0L).as("level"))
      .transform(Materialize.eager(_).state)
    val levels = Superstep.converge("dag_levels", lv0, maxRounds) { (lv, _) =>
      val gathered = e
        .join(lv.select(col("comp").as("cid"), col("level").as("plv")),
          col("csrc") === col("cid"))
        .groupBy(col("cdst").as("comp"))
        .agg((max(col("plv")) + 1L).as("inLv"))
      lv.join(gathered, Seq("comp"), "left")
        .select(col("comp"),
          greatest(col("level"), coalesce(col("inLv"), col("level"))).as("level"),
          col("level").as("prev"))
    }(Superstep.changedRows("level", "prev"), Superstep.untilZero)
    require(levels.converged,
      s"dagLevels did not stabilize in $maxRounds rounds — input has a cycle")
    e.unpersist(blocking = false)
    levels.labels.select(col("comp"), col("level"))
  }

  /** Bounded-length path counts from the DAG's sources: paths(v) =
    * number of distinct directed paths of length ≤ `rounds` that start
    * at an in-degree-0 component and end at v (a source counts its own
    * empty path) — on the SCC condensation this is the "how many ways
    * does crawl flow reach this cluster" mass used to spot junction
    * components that funnel the web's IN→CORE traffic.
    *
    * DP over walk length: p_0 = 1 on sources, p_{r+1}(v) = Σ_{u→v}
    * p_r(u) — each round one gather join + hash agg (the CC skeleton
    * with sum-plus), every count an exact long. In a DAG walks are
    * paths, so no deduplication is ever needed. Path counts grow
    * exponentially with depth — `rounds` is the int64 envelope guard
    * (counts can hit branching^rounds; at web scale run counts
    * mod a Mersenne prime past ~60 effective depth, documented swap).
    *
    * @param compEdges (csrc, cdst) DAG edges (e.g. [[condense]]._2)
    * @return (comp, paths) for every component, 0 = unreached within
    *         `rounds`
    */
  def dagPathCounts(compEdges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1)
    val e = compEdges.select(col("csrc"), col("cdst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val comps = e.select(col("csrc").as("comp"))
      .union(e.select(col("cdst"))).distinct()
      .transform(Materialize.eager(_).state)
    val p0 = comps.join(e.select(col("cdst").as("comp")).distinct(),
        Seq("comp"), "left_anti")
      .select(col("comp"), lit(1L).as("w"))
      .transform(Materialize.eager(_).state)
    // each step keeps its input p_{r−1}; p_rounds is the returned state
    val shorter = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val last = Superstep.fixed(p0, rounds, readsPrevOnce = false) { (p, _) =>
      shorter += p
      e.join(p.select(col("comp").as("cid"), col("w")),
          col("csrc") === col("cid"))
        .groupBy(col("cdst").as("comp")).agg(sum(col("w")).as("w"))
    }
    val agg = (shorter :+ last).reduce(_ union _)
      .groupBy("comp").agg(sum(col("w")).as("paths"))
    val out = comps.join(agg, Seq("comp"), "left")
      .select(col("comp"),
        coalesce(col("paths"), lit(0L)).cast("long").as("paths"))
      .transform(Materialize.eager(_).state)
    e.unpersist(blocking = false)
    out
  }
}
