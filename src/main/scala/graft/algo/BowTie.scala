package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.graph.GraphOps

/** Bow-tie decomposition of a directed link graph (Broder et al., "Graph
  * structure in the Web", WWW 2000) — the canonical macro-structure view
  * of a crawled web graph:
  *
  *   core  — the largest strongly connected component
  *   in    — vertices that reach the core but are not in it
  *   out   — vertices the core reaches but that are not in it
  *   other — everything else (tendrils, tubes, disconnected islands)
  *
  * Composition of existing primitives: one SCC run (FB-coloring), one
  * size argmax with a deterministic (size DESC, label ASC) tie-break, and
  * two set-reachability sweeps ([[GraphOps.reachableFrom]]) — forward on
  * the edges for `out`, forward on the TRANSPOSE for `in` (reaching the
  * core = being reachable from it on the reversed graph). Since the core
  * is an SCC, reaching ANY member is reaching all of them, so both sweeps
  * seed with the whole member set and state stays one row per vertex.
  */
object BowTie {

  /** @return (id, bowtie) with bowtie ∈ {core, in, out, other} */
  def classify(directed: DataFrame): DataFrame = {
    val d = GraphOps.dropSelfLoops(directed.select(col("src"), col("dst")))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    val scc = StronglyConnected.run(d)._1
      .persist(StorageLevel.MEMORY_AND_DISK)
    val top = scc.groupBy(col("scc")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("scc").asc).limit(1)
      .collect()
    if (top.isEmpty) { // empty edge set: no vertices, empty classification
      scc.unpersist(blocking = false)
      d.unpersist(blocking = false)
      return d.sparkSession.range(0)
        .select(col("id"), lit("").as("bowtie"))
    }
    val coreLabel = top.head.getLong(0)
    val coreIds = scc.filter(col("scc") === coreLabel).select(col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val fwdReach = GraphOps.reachableFrom(d, coreIds)
    val bwdReach = GraphOps.reachableFrom(
      d.select(col("dst").as("src"), col("src").as("dst")), coreIds)
    val outSet = fwdReach.select(col("id"), lit(1L).as("fwd"))
    val inSet = bwdReach.select(col("id"), lit(1L).as("bwd"))
    val coreMark = coreIds.select(col("id"), lit(1L).as("core"))
    val out = GraphOps.vertices(d)
      .join(coreMark, Seq("id"), "left")
      .join(inSet, Seq("id"), "left")
      .join(outSet, Seq("id"), "left")
      .select(col("id"),
        when(col("core").isNotNull, lit("core"))
          .when(col("bwd").isNotNull, lit("in"))
          .when(col("fwd").isNotNull, lit("out"))
          .otherwise(lit("other"))
          .as("bowtie"))
      // materialize before freeing the inputs the lazy plan references
      .transform(graft.engine.Materialize.eager(_).state)
    fwdReach.unpersist(blocking = false)
    bwdReach.unpersist(blocking = false)
    coreIds.unpersist(blocking = false)
    scc.unpersist(blocking = false)
    d.unpersist(blocking = false)
    out
  }
}
