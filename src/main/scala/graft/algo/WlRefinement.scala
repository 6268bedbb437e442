package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.{Materialize, Superstep}
import graft.graph.GraphOps

/** Weisfeiler–Lehman color refinement (1-WL): iteratively re-color every
  * vertex by hashing its own color together with the multiset of its
  * neighbors' colors —
  *
  *   c₀(v)   = md5("d:" ++ deg(v))
  *   c_t(v)  = md5(c_{t-1}(v) ++ "|" ++ signature(c_{t-1}(N(v))))
  *
  * After k rounds two vertices share a color iff their depth-k rooted
  * neighborhood trees are isomorphic — the standard structural-role
  * fingerprint (graph dedup, role discovery, GNN expressiveness bound).
  * Every step is deterministic string hashing, so the driver gate is
  * byte-exact.
  *
  * Plan: per round one equi-join (colors gathered over the edge table) +
  * hash aggregation building the per-vertex signature. The DEFAULT
  * signature is the grouped (color, count)-pair form — "c₁:n₁,c₂:n₂,…"
  * sorted by color — built by a per-(vertex, color) count aggregate
  * followed by a per-vertex sort: its aggregation buffer is bounded by
  * the number of DISTINCT neighbor colors, so a 10⁶-degree hub whose
  * neighbors share a handful of colors costs a handful of pairs instead
  * of a ~33 MB sorted concat in one buffer (VERDICT r4 task 3). The two
  * forms encode the same multiset, so they induce IDENTICAL partitions
  * (asserted in WlRefinementSpec); the degree-length multiset concat is
  * kept behind `pairSig = false` for the small-graph byte-format. Color
  * state is referenced twice per round (own color + gather), so rounds
  * materialize eagerly.
  */
object WlRefinement {

  /** `rounds` WL refinement sweeps over the symmetrized edge table;
    * returns (id, color) with color the final round's md5 hex.
    *
    * @param pairSig true (default) = hub-safe (color, count)-pair
    *                signature; false = the sorted multiset concat
    *                (degree-sized buffer — small graphs only)
    */
  def refine(edges: DataFrame, rounds: Int, pairSig: Boolean = true): DataFrame = {
    require(rounds >= 0)
    val e = edges.select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val c0 = GraphOps.degrees(e)
      .select(col("id"),
        md5(concat(lit("d:"), col("degree").cast("string"))).as("color"))
      .transform(Materialize.eager(_).state)
    val colors = Superstep.fixed(c0, rounds, readsPrevOnce = false) { (colors, _) =>
      val gathered = e
        .join(colors.select(col("id").as("src"), col("color").as("nc")), "src")
      val sig =
        if (pairSig)
          // two-level aggregate: (vertex, color) counts first — partial
          // map-side combine collapses hub fan-in before the shuffle —
          // then one sorted pair list per vertex, bounded by the distinct
          // neighbor colors. md5 hex is fixed-width, so sorting the
          // "color:count" strings == sorting by color.
          gathered
            .groupBy(col("dst").as("id"), col("nc"))
            .agg(count(lit(1)).as("cnt"))
            .groupBy("id")
            .agg(concat_ws(",", sort_array(collect_list(
              concat(col("nc"), lit(":"), col("cnt"))))).as("sig"))
        else
          gathered
            .groupBy(col("dst").as("id"))
            .agg(concat_ws(",", sort_array(collect_list(col("nc")))).as("sig"))
      colors
        .join(sig, Seq("id"), "left")
        .select(col("id"),
          md5(concat(col("color"), lit("|"), coalesce(col("sig"), lit(""))))
            .as("color"))
    }
    e.unpersist(blocking = false)
    colors
  }

  /** Color-class histogram after `rounds` sweeps: (color, n) — the
    * canonical-form summary two graphs must share to be 1-WL-equivalent.
    */
  def colorHistogram(edges: DataFrame, rounds: Int): DataFrame =
    refine(edges, rounds).groupBy("color").agg(count(lit(1)).as("n"))
}
