package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.algo.Hits.l1Normalize
import graft.engine.Superstep
import graft.graph.GraphOps

/** SALSA (Lempel–Moran, "Stochastic Approach for Link-Structure
  * Analysis") — the random-walk cousin of HITS on a DIRECTED web graph.
  * Where HITS gathers raw mass (so dense tightly-knit farms dominate),
  * SALSA normalizes every hop by the degree of the vertex it leaves, i.e.
  * it runs two alternating random walks on the hub/authority bipartite
  * view:
  *
  *   a_k(v) = Σ_{u→v} h_{k-1}(u) / outdeg(u)    then L1-normalize
  *   h_k(u) = Σ_{u→v} a_k(v)   / indeg(v)       then L1-normalize
  *
  * The stationary point is degree-proportional within each connected
  * bipartite component — the TKC-effect-free ranking the SALSA paper
  * argues for. The fixed-iteration form below is the gate-able schedule.
  *
  * Plan shape is [[Hits.runFixed]]'s: one pre-partitioned edge copy per
  * gather direction, each carrying the divisor degree of its OWN gather
  * join key's far side attached by a single setup join — so an iteration
  * is two equi-joins + two partial-aggregated groupBys and only
  * vertex-sized tables ever cross the wire. The division happens inside
  * the aggregate exactly as written (`score / deg`), mirrored verbatim by
  * the DuckDB oracle. The L1 normalizers stay in-plan (broadcast one-row
  * cross join); a zero mass sum skips normalization instead of minting
  * NaNs. Each iteration's state feeds the normalizer twice, so it ends in
  * one eager lineage truncation (the Gauss–Seidel 2^n lesson).
  */
object Salsa {

  /** Fixed-iteration SALSA over a directed edge table. Returns
    * (id, auth, hub) for every vertex, L1-normalized per half-step.
    */
  def runFixed(edges: DataFrame, iterations: Int,
               partitions: Int = 32): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val outDeg = e.groupBy(col("src").as("odid")).agg(count(lit(1)).as("od"))
    val inDeg = e.groupBy(col("dst").as("idid")).agg(count(lit(1)).as("ind"))
    // authority gather joins hub scores on src → carry outdeg(src);
    // hub gather joins authority scores on dst → carry indeg(dst).
    // Both divisors are attached once here, never re-joined per iteration.
    val eSrc = e.join(outDeg, e("src") === col("odid"))
      .select(col("src"), col("dst"), col("od"))
      .repartition(partitions, col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val eDst = e.join(inDeg, e("dst") === col("idid"))
      .select(col("src"), col("dst"), col("ind"))
      .repartition(partitions, col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts = GraphOps.vertices(eSrc).persist(StorageLevel.MEMORY_AND_DISK)
    val n = verts.count()

    val scores = Superstep.fixed(verts.select(col("id"),
        lit(1.0 / n).as("auth"), lit(1.0 / n).as("hub")),
        iterations, readsPrevOnce = false) { (scores, _) =>
      // shuffled-hash build of the score state (PageRank.stateSide
      // rationale: no stats mid-loop → SMJ re-sorts the edge side)
      val aRaw = eSrc.join(scores.select(col("id").as("hid"), col("hub"))
          .hint("shuffle_hash"),
          col("src") === col("hid"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("hub") / col("od")).as("a"))
      val aJoined = verts.join(aRaw, Seq("id"), "left")
        .select(col("id"), coalesce(col("a"), lit(0.0)).as("a"))
      val auth = l1Normalize(aJoined, "a", "auth")
      val hRaw = eDst.join(auth.select(col("id").as("aid"), col("auth").as("av"))
          .hint("shuffle_hash"),
          col("dst") === col("aid"))
        .groupBy(col("src").as("id"))
        .agg(sum(col("av") / col("ind")).as("h"))
      val hJoined = verts.join(hRaw, Seq("id"), "left")
        .select(col("id"), coalesce(col("h"), lit(0.0)).as("h"))
      val hub = l1Normalize(hJoined, "h", "hub")
        .withColumnRenamed("id", "hid2")
      auth
        .join(hub, col("id") === col("hid2"))
        .select(col("id"), col("auth"), col("hub"))
    }
    eSrc.unpersist(blocking = false)
    eDst.unpersist(blocking = false)
    verts.unpersist(blocking = false)
    scores
  }
}
