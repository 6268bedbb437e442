package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Materialize
import graft.graph.GraphOps

/** Densest-subgraph greedy peel (Charikar's 2-approximation shape): each
  * round removes every vertex whose degree inside the surviving subgraph
  * is at most the current average degree — the batched peel that makes
  * the sequential min-degree algorithm distributed (Bahmani–Kumar–
  * Vassilvitskii). The density-maximizing prefix of the peel order is a
  * 2(1+ε)-approximate densest subgraph; on link graphs the late-surviving
  * core is the classic link-farm / dense-community extractor.
  *
  * All comparisons are exact integers: with n surviving vertices and
  * `slots` surviving directed slots (= 2m), "deg ≤ average degree" is
  * `deg · n ≤ slots` — no floating density anywhere, so the fixed-round
  * variant replays bit-for-bit in the driver oracle. Per round: one
  * degree aggregation, one anti-join, two semi-joins — all key-partitioned
  * shuffles on a monotonically shrinking edge set.
  */
object Dense {

  /** Fixed peel rounds over the symmetrized slot table. Returns
    * (id, peel_round): the 1-based round each vertex was removed in;
    * vertices surviving all `rounds` get `rounds + 1`. Rounds after the
    * subgraph empties are no-ops.
    */
  def peelRounds(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    // each truncation observes its row count: n = alive vertices,
    // t = surviving slots (= 2m)
    var slots = Materialize.eager(edges.select(col("src"), col("dst")))
    var alive = Materialize.eager(GraphOps.vertices(slots.state))
    var out: DataFrame = null
    var r = 0
    while (r < rounds) {
      r += 1
      val (n, t) = (alive.rows, slots.rows)
      if (n > 0) {
        val deg = slots.state.groupBy(col("src").as("id"))
          .agg(count(lit(1)).as("deg"))
        val removed = alive.state.join(deg, Seq("id"), "left")
          .filter(coalesce(col("deg"), lit(0L)) * n <= t)
          .select(col("id"), lit(r.toLong).as("peel_round"))
          .transform(Materialize.eager(_).state)
        out = if (out == null) removed else out.union(removed)
        alive = Materialize.eager(alive.state.join(removed, Seq("id"), "left_anti"))
        slots = Materialize.eager(slots.state
          .join(alive.state.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(alive.state.select(col("id").as("dst")), Seq("dst"), "left_semi")
          .select(col("src"), col("dst")))
      }
    }
    val survivors = alive.state
      .select(col("id"), lit(rounds.toLong + 1).as("peel_round"))
    if (out == null) survivors else out.union(survivors)
  }
}
