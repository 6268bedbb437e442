package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{Materialize, Superstep}
import graft.graph.GraphOps

/** Deterministic distributed greedy maximal matching — Luby's algorithm
  * on the line graph: give every edge an md5 priority, select each round
  * the edges whose priority is the minimum among ALL edges incident to
  * either endpoint (local minima can never be adjacent, so each round's
  * selection is a matching), drop both endpoints, repeat. A constant
  * fraction of edges leaves per round in expectation, so O(log E) rounds
  * maximalize — the standard primitive under graph coarsening /
  * multilevel partitioning.
  *
  * Priorities are `md5(src:dst:seed)` — collision-free in practice and,
  * more importantly, REPLAYABLE: the same string hash exists in any SQL
  * engine, so the fixed-round variant is driver-oracle-exact. Per round:
  * one vertex-keyed min aggregation, two equi-joins, two anti-joins —
  * all partition-parallel on a monotonically shrinking edge set.
  */
object Matching {

  /** Fixed selection rounds. Returns (src, dst, round) for each matched
    * canonical edge, `round` = the 1-based round it was selected in.
    */
  def greedyRounds(edges: DataFrame, rounds: Int, seed: Long): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    val canon = GraphOps.canonical(edges)
      .select(col("src"), col("dst"),
        md5(concat_ws(":", col("src"), col("dst"), lit(seed))).as("prio"))
      .transform(Materialize.eager(_).state)
    selectRounds(canon, Nil, rounds)
  }

  /** The selection rounds over `canon` = (src, dst, carried…, prio):
    * returns (src, dst, carried…, round) for each matched edge.
    */
  private def selectRounds(canon: DataFrame, carried: Seq[String],
                           rounds: Int): DataFrame = {
    val kept = (Seq("src", "dst") ++ carried).map(col)
    val picked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    Superstep.fixed(canon, rounds, readsPrevOnce = false) { (alive, r) =>
      val inc = alive.select(col("src").as("v"), col("prio"))
        .union(alive.select(col("dst").as("v"), col("prio")))
      val vmin = inc.groupBy("v").agg(min(col("prio")).as("pmin"))
      val sel = alive
        .join(vmin.select(col("v").as("src"), col("pmin").as("ps")), "src")
        .join(vmin.select(col("v").as("dst"), col("pmin").as("pd")), "dst")
        .filter(col("prio") === col("ps") && col("prio") === col("pd"))
        .select(kept :+ lit(r.toLong).as("round"): _*)
        .transform(Materialize.eager(_).state)
      picked += sel
      val mv = sel.select(col("src").as("id"))
        .union(sel.select(col("dst"))).distinct()
      alive
        .join(mv.select(col("id").as("src")), Seq("src"), "left_anti")
        .join(mv.select(col("id").as("dst")), Seq("dst"), "left_anti")
        .select(kept :+ col("prio"): _*)
    }
    picked.reduce(_ union _)
  }

  /** Weighted contraction: [[contract]] for a WEIGHTED slot table —
    * parallel edges aggregate by WEIGHT SUM instead of slot count, so
    * composing `contractWeighted(w, greedyRoundsWeighted(w, …))` keeps
    * total inter-cluster mass exact across levels (the invariant
    * multilevel partitioning relies on: the coarse cut equals the fine
    * cut restricted to the coarse partition). Same two broadcast-sized
    * left joins + one hash aggregation.
    */
  def contractWeighted(wSlots: DataFrame, matched: DataFrame): DataFrame = {
    val map = matched.select(col("dst").as("id"), col("src").as("rep"))
    wSlots
      .join(map.select(col("id").as("src"), col("rep").as("rs")),
        Seq("src"), "left")
      .join(map.select(col("id").as("dst"), col("rep").as("rd")),
        Seq("dst"), "left")
      .select(coalesce(col("rs"), col("src")).as("src"),
        coalesce(col("rd"), col("dst")).as("dst"), col("weight"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(sum(col("weight")).cast("long")
        .as("weight"))
  }

  /** Heavy-edge greedy matching (the METIS coarsening heuristic, Preis-
    * style local domination): same locally-minimum-priority rounds as
    * [[greedyRounds]], but the priority string is
    * zero-padded (10⁹ − weight) ++ md5, so lexicographic MIN = heaviest
    * weight first with the deterministic hash as tie-break — matched
    * pairs absorb the heaviest links, which is exactly what multilevel
    * partitioning wants collapsed first (the coarse graph's cut
    * underestimates the fine cut the least). Weight envelope: integer
    * weights < 10⁹ (web link multiplicities are far below).
    *
    * @return (src, dst, weight, round) matched canonical pairs
    */
  def greedyRoundsWeighted(wEdges: DataFrame, rounds: Int,
                           seed: Long): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    val canon = wEdges.filter(col("src") < col("dst"))
      .select(col("src"), col("dst"), col("weight"))
      .groupBy("src", "dst").agg(max(col("weight")).as("weight"))
      .select(col("src"), col("dst"), col("weight"),
        concat(lpad((lit(1000000000L) - col("weight")).cast("string"),
          10, "0"),
          md5(concat_ws(":", col("src"), col("dst"), lit(seed))))
          .as("prio"))
      .transform(Materialize.eager(_).state)
    selectRounds(canon, Seq("weight"), rounds)
  }

  /** 2-approximate vertex cover from the greedy maximal matching
    * (Gavril/Yannakakis): the matched endpoints cover every edge touched
    * by the matching, and any canonical edge still alive after `rounds`
    * (both endpoints unmatched) contributes BOTH endpoints as a fallback
    * — so the result is ALWAYS a valid cover, and when the matching ran
    * to maximality (empty residual) it carries the classic ≤ 2·OPT
    * guarantee. The `via` column ('matched' / 'residual') is the audit:
    * residual rows mean more rounds would shrink the cover. Same
    * per-round cost as [[greedyRounds]] plus two anti-joins.
    *
    * @return (id, via) — the cover set
    */
  def vertexCover(edges: DataFrame, rounds: Int, seed: Long): DataFrame = {
    val matched = greedyRounds(edges, rounds, seed)
    val canon = GraphOps.canonical(edges)
    val mEnds = matched.select(col("src").as("id"))
      .union(matched.select(col("dst").as("id")))
    val mv = mEnds.distinct()
    val residual = canon
      .join(mv.select(col("id").as("src")), Seq("src"), "left_anti")
      .join(mv.select(col("id").as("dst")), Seq("dst"), "left_anti")
    val rEnds = residual.select(col("src").as("id"))
      .union(residual.select(col("dst").as("id")))
    mEnds.select(col("id"), lit("matched").as("via"))
      .union(rEnds.select(col("id"), lit("residual").as("via")))
      .groupBy("id").agg(min(col("via")).as("via"))
  }

  /** Contract a matching into its coarse multigraph — one multilevel-
    * coarsening step (the METIS/multilevel-partitioning shape): each
    * matched pair merges into its lower endpoint (the canonical pair's
    * `src`), unmatched vertices stay themselves, parallel edges aggregate
    * into an integer weight, and intra-pair slots become self-loops and
    * are dropped. Input and output are symmetric slot tables, so levels
    * compose: `contract(slots, greedyRounds(slots, …))` halves the vertex
    * set wherever the matching is dense. Two broadcast-sized left joins
    * (the matching is ≤ |V|/2 rows) plus one hash aggregation.
    */
  def contract(slots: DataFrame, matched: DataFrame): DataFrame = {
    val map = matched.select(col("dst").as("id"), col("src").as("rep"))
    slots
      .join(map.select(col("id").as("src"), col("rep").as("rs")),
        Seq("src"), "left")
      .join(map.select(col("id").as("dst"), col("rep").as("rd")),
        Seq("dst"), "left")
      .select(coalesce(col("rs"), col("src")).as("src"),
        coalesce(col("rd"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("weight"))
  }
}
