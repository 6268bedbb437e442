package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{Materialize, Superstep}
import graft.graph.GraphOps

/** Influence-maximization operators over the link graph: VoteRank seed
  * selection (Zhang et al., 2016) and the deterministic linear-threshold
  * cascade (Kempe–Kleinberg–Tardos 2003 with fixed thresholds) — the
  * "which k pages seed the widest spread, and how far does a spread
  * get?" pair behind outreach/contamination analyses on a web graph.
  *
  * Both are built on the engine's integer-determinism contract: voting
  * abilities live as e6 longs (the discount δ = ⌊10⁶/⟨k⟩⌉ is the one
  * rounded scalar), and the LT activation test is cross-multiplied to
  * `active·den ≥ θnum·deg` so no float ever appears. Every aggregation
  * is therefore order-free and DuckDB-replayable.
  */
object Influence {

  /** VoteRank: select `k` spreaders one at a time. Each vertex starts
    * with voting ability 10⁶ (e6 fixed point); a round scores every
    * unselected vertex by the sum of its neighbors' abilities, picks the
    * max (score desc, id asc — the pinned tie-break), zeroes the
    * winner's own ability (selected vertices never vote again), and
    * discounts the winner's NEIGHBORS by δ = ⌊10⁶ / ⟨k⟩⌉ (floored at 0).
    *
    * The driver loop runs k rounds; each round is one edge⋈ability
    * gather + one 1-row argmax collected to the driver (the sanctioned
    * scalar-collect shape) + one vertex-sized ability update. k is the
    * caller's seed budget (single digits in practice), so the loop cost
    * is k LP-gather-shaped jobs.
    *
    * @return (rank, id, score_e6) — the k selections in order
    */
  def voteRank(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 1)
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src"), col("dst"))
    val scal = e.agg(count(lit(1)).as("slots")).crossJoin(
      GraphOps.vertices(e).agg(count(lit(1)).as("n"))).first()
    val delta = math.round(1000000.0 * scal.getLong(1) / scal.getLong(0))
    val va0 = GraphOps.vertices(e).select(col("id"), lit(1000000L).as("va"))
      .transform(Materialize.eager)
    var selected = List.empty[(Long, Long, Long)] // (rank, id, score)
    Superstep.fixed(va0, k, readsPrevOnce = false) { (va, r) =>
      val chosen = selected.map(_._2)
      val scores = e.join(va.withColumnRenamed("id", "nid"),
          col("dst") === col("nid"))
        .groupBy(col("src").as("id")).agg(sum(col("va")).as("score"))
        .filter(!col("id").isin(chosen: _*))
      val w = scores.orderBy(col("score").desc, col("id").asc).limit(1)
        .collect()(0)
      val (wid, wscore) = (w.getLong(0), w.getLong(1))
      selected = selected :+ ((r.toLong, wid, wscore))
      val nbrs = e.filter(col("src") === wid).select(col("dst").as("id"))
        .distinct().withColumn("hit", lit(1L))
      va.join(nbrs, Seq("id"), "left")
        .select(col("id"),
          when(col("id") === wid, lit(0L))
            .when(col("hit").isNotNull,
              greatest(col("va") - delta, lit(0L)))
            .otherwise(col("va")).as("va"))
    }
    selected.toDF("rank", "id", "score_e6")
  }

  /** Deterministic linear-threshold cascade, `rounds` synchronous steps:
    * vertex v (deg > 0) activates once
    *
    *   |N(v) ∩ active| · θden ≥ θnum(v) · deg(v)
    *
    * with the caller supplying per-vertex integer thresholds θnum/θden
    * (fractions of the neighborhood) via `thresholds(id, tnum)` and one
    * shared `tden`. Seeds are active at round 0; activation is monotone,
    * so each round is one semi-join gather + one integer comparison —
    * the cross-multiplied test never leaves integers.
    *
    * @return (id, round) — first activation round per activated vertex
    */
  def ltCascade(edges: DataFrame, seeds: DataFrame, thresholds: DataFrame,
                tden: Long, rounds: Int): DataFrame = {
    require(rounds >= 1 && tden >= 1)
    val e = edges.select(col("src"), col("dst"))
    val deg = GraphOps.degrees(e)
    val seeded = seeds.select(col("id"), lit(0L).as("round"))
      .transform(Materialize.eager)
    Superstep.fixed(seeded, rounds, readsPrevOnce = false) { (active, r) =>
      val gathered = e.join(active.select(col("id").as("aid")),
          col("dst") === col("aid"))
        .groupBy(col("src").as("id")).agg(count(lit(1)).as("na"))
      val fresh = gathered
        .join(active.select(col("id"), lit(1L).as("already")), Seq("id"), "left")
        .filter(col("already").isNull)
        .join(deg, Seq("id"))
        .join(thresholds, Seq("id"))
        .filter(col("na") * tden >= col("tnum") * col("degree"))
        .select(col("id"), lit(r.toLong).as("round"))
      active.union(fresh)
    }
  }

  /** Deterministic independent-cascade spread (Kempe–Kleinberg–Tardos
    * 2003) via the live-edge formulation: in ICM each directed edge gets
    * exactly ONE activation attempt ever, so the cascade equals BFS
    * reachability from the seeds over the subgraph of edges whose coin
    * succeeded — the standard proof device, used here as the execution
    * plan (no per-round coin state at all). The coin is the stateless
    * md5 draw on the slot key (`md5Uniform(src:dst) % 1000 < permille`),
    * so both engines replay the same live subgraph bit-for-bit; on a
    * symmetrized graph the two directions of an edge draw independent
    * coins (directed-slot semantics, documented).
    *
    * Each round is one live-edge gather + anti-join — the ltCascade loop
    * shape, monotone active set, eager-materialized per round.
    *
    * @return (id, round) — first activation round per activated vertex
    */
  def icCascade(edges: DataFrame, seeds: DataFrame, permille: Long,
                rounds: Int): DataFrame = {
    require(rounds >= 1 && permille >= 0 && permille <= 1000)
    val live = edges.select(col("src"), col("dst"))
      .filter(graft.text.TextIndex.md5Uniform(
        concat_ws(":", col("src"), col("dst"))) % 1000 < permille)
      .transform(Materialize.eager)
    val seeded = seeds.select(col("id"), lit(0L).as("round"))
      .transform(Materialize.eager)
    Superstep.fixed(seeded, rounds, readsPrevOnce = false) { (active, r) =>
      val fresh = live.join(active.select(col("id").as("aid")),
          col("dst") === col("aid"))
        .select(col("src").as("id")).distinct()
        .join(active.select(col("id"), lit(1L).as("already")),
          Seq("id"), "left")
        .filter(col("already").isNull)
        .select(col("id"), lit(r.toLong).as("round"))
      active.union(fresh)
    }
  }
}
