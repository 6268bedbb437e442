package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.engine.Superstep
import graft.graph.GraphOps

/** Bounded-horizon absorbing-walk hit probability toward a target set —
  * "what fraction of T-step random surfs from this page end in the spam
  * (or paywall, or dead) set?", the reachability-mass diagnostic run
  * next to spam mass (`PageRank.spamMass`) when deciding whether a
  * region of the crawl is quarantined.
  *
  * Semantics (uniform walk, targets absorbing):
  *
  *   h_0(v)     = [v ∈ S]
  *   h_{t+1}(v) = 1                       if v ∈ S
  *              = Σ_{(v,w)∈E} h_t(w) / deg(v)   otherwise
  *
  * so h_T(v) = P(a uniform random walk from v reaches S within T steps).
  * h_t is monotone non-decreasing in t and h_T ≡ 1 on components that
  * contain a target once T reaches the component diameter.
  *
  * Scale shape: the [[PageRank.runFixed]] skeleton — one gather equi-join
  * per step against the dst-partitioned persisted edge table, one hash
  * aggregation, one vertex-sized merge join against the persisted
  * (flag, degree) base table. The state is referenced once per step, so
  * the whole horizon is one read-once [[Superstep.fixed]] chain. No
  * driver-side action inside the loop. Vertices with no out-edges and not
  * in S keep h = 0 (the walk is stuck, it never hits), which the update
  * expresses with a null-degree guard so directed inputs are handled too.
  */
object Absorbing {

  /** @param edges   (src, dst) — symmetrize first for undirected walks
    * @param targets 1-column (id) absorbing set
    * @return (id, p) with p = h_steps(id)
    */
  def hitProbabilityFixed(edges: DataFrame, targets: DataFrame, steps: Int,
                          partitions: Int = 32): DataFrame = {
    require(steps >= 0, s"steps must be >= 0, got $steps")
    val verts = GraphOps.vertices(edges)
    val deg = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
    val base = verts
      .join(targets.select(col("id"), lit(1).as("is_t")), Seq("id"), "left")
      .join(deg, Seq("id"), "left")
      .select(col("id"), coalesce(col("is_t"), lit(0)).as("is_t"), col("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edgesByDst = edges.repartition(partitions, col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    Superstep.fixed(base.select(col("id"), col("is_t").cast("double").as("p")),
        steps, readsPrevOnce = true) { (h, _) =>
      val gathered = edgesByDst
        .join(h, edgesByDst("dst") === h("id"))
        .select(edgesByDst("src").as("id"), col("p"))
        .groupBy("id").agg(sum(col("p")).as("s"))
      base.join(gathered, Seq("id"), "left")
        .select(col("id"),
          when(col("is_t") === 1, lit(1.0))
            .when(col("deg").isNull, lit(0.0))
            .otherwise(coalesce(col("s"), lit(0.0)) / col("deg"))
            .as("p"))
    }
  }
}
