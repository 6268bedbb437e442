package graft.algo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.engine.{Materialize, Superstep}
import graft.graph.GraphOps

/** Maximal independent set by Luby-style rounds over fixed seeded
  * priorities — the classic symmetry-breaking primitive (the engine
  * already uses its sibling, Jones–Plassmann, for the semi-sync LP
  * coloring; MIS is the standalone operator form).
  *
  * Every vertex draws a fixed 60-bit md5 priority from (id, seed); each
  * round, an undecided vertex enters the set iff its (priority, id) pair
  * is strictly smaller than every undecided neighbor's, and the new
  * members' undecided neighbors drop out. With fixed priorities this
  * computes the lexicographically-first MIS of the priority order —
  * deterministic, engine-independent — and finishes in O(log n) rounds
  * with high probability for hash-uniform priorities (Blelloch, Fineman
  * & Shun 2012 on greedy-by-random-priority MIS).
  *
  * Per round: two edge-keyed hash joins (restrict edges to
  * undecided×undecided), one (priority, id) struct-min aggregation, and
  * vertex-sized status joins — no windows, no per-vertex collect, so
  * each round is a constant number of shuffles at any graph size. The
  * rounds run on `Superstep.converge`, whose eager truncation per round
  * (the state feeds both the update and the next round's restriction)
  * also counts the undecided vertices.
  *
  * Expects symmetrized deduplicated edges. The tie pair (priority, id)
  * makes md5 collisions harmless: ordering stays total.
  */
object Mis {

  /** 60-bit md5 priority of "id:seed" — replayable in ANSI SQL as
    * `('0x' || substr(md5(id || ':' || seed), 1, 15))::BIGINT`.
    */
  def priority(id: Column, seed: Long): Column =
    conv(substring(md5(concat_ws(":", id, lit(seed))), 1, 15), 16, 10)
      .cast("long")

  /** Exactly `rounds` Luby rounds; status ∈ in | out | und. Deterministic
    * at every round count — the driver-gate form.
    */
  def misFixed(edges: DataFrame, seed: Long, rounds: Int): DataFrame =
    run(edges, seed, rounds, stopWhenDecided = false)

  /** Luby rounds to the all-decided fixpoint (`maxRounds` caps runaway
    * inputs); returns (id, status) with status ∈ in | out.
    */
  def mis(edges: DataFrame, seed: Long, maxRounds: Int = 100): DataFrame =
    run(edges, seed, maxRounds, stopWhenDecided = true)

  private def run(edges: DataFrame, seed: Long, rounds: Int,
                  stopWhenDecided: Boolean): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val init = Materialize.eager(GraphOps.vertices(e)
      .select(col("id"), priority(col("id"), seed).as("prio"),
        lit("und").as("status"))).state
    val res = Superstep.converge("mis", init, rounds) { (state, _) =>
      val und = state.filter(col("status") === "und")
      // undecided×undecided edges; min (priority, id) per source
      val nbrMin = e
        .join(und.select(col("id").as("src")), Seq("src"))
        .join(und.select(col("id").as("dst"), col("prio").as("dprio")),
          Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(struct(col("dprio"), col("dst"))).as("m"))
      val winners = und.join(nbrMin, Seq("id"), "left")
        .filter(col("m").isNull ||
          col("prio") < col("m.dprio") ||
          (col("prio") === col("m.dprio") && col("id") < col("m.dst")))
        .select(col("id"))
      val losers = e
        .join(winners.select(col("id").as("src")), Seq("src"))
        .select(col("dst").as("id")).distinct()
      state
        .join(winners.select(col("id"), lit(1).as("_in")), Seq("id"), "left")
        .join(losers.select(col("id"), lit(1).as("_out")), Seq("id"), "left")
        .select(col("id"), col("prio"),
          when(col("status") =!= "und", col("status"))
            .when(col("_in").isNotNull, lit("in"))
            .when(col("_out").isNotNull, lit("out"))
            .otherwise(lit("und")).as("status"))
    }(Superstep.Observe(_ => Seq(count_if(col("status") === "und"))), (_, row) =>
      Superstep.Verdict(row.getLong(1), 0L, stopWhenDecided && row.getLong(1) == 0L))
    e.unpersist(blocking = false)
    res.labels.select(col("id"), col("status"))
  }
}
