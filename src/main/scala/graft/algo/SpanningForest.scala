package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.{Materialize, Superstep}

/** Minimum spanning forest by Boruvka hooking — the distributed MSF
  * algorithm (Kruskal and Prim are inherently sequential): every round,
  * each component picks its lightest incident inter-component edge, the
  * picked edges merge components, and the component count at least
  * halves, so the whole forest lands in O(log V) rounds. On a link
  * graph this is the backbone of single-linkage host clustering and
  * mirror-farm detection over similarity-weighted edges.
  *
  * Determinism: candidate edges are ordered by the struct
  * (w, a, b) — with distinct weights the MSF is unique, and the packed
  * tie-break makes it unique for ANY weights, so results are
  * bit-replayable. The hooking pointer graph under a total order can
  * only contain 2-cycles, and a 2-cycle's two sides always chose the
  * SAME edge (each side's pick is min over a superset of the shared
  * incident set), so breaking 2-cycles at the smaller component id and
  * pointer-doubling the remaining trees yields the merged labels in
  * O(log V) vertex-sized self-joins per round — edges are only ever
  * touched by the per-round relabel join and the per-component
  * partial-aggregated argmin, the LP gather shape.
  */
object SpanningForest {

  /** @param edges (src, dst, weight) — undirected semantics; parallel
    *              edges keep the lightest.
    * @return the forest's edges (a, b, w) with a < b.
    */
  def boruvka(edges: DataFrame, maxRounds: Int = 64): DataFrame = {
    val canon = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"),
        col("weight").cast("long").as("w"))
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(min(col("w")).as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = canon.select(col("a").as("id")).union(canon.select(col("b")))
      .distinct().select(col("id"), col("id").as("comp"))
      .transform(Materialize.eager(_).state)
    val picked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var rounds = 0
    var done = false
    while (!done) {
      rounds += 1
      require(rounds <= maxRounds, s"Boruvka did not converge in $maxRounds rounds")
      val inter = Materialize.eager(canon
        .join(labels.select(col("id").as("ida"), col("comp").as("ca")),
          col("a") === col("ida"))
        .join(labels.select(col("id").as("idb"), col("comp").as("cb")),
          col("b") === col("idb"))
        .filter(col("ca") =!= col("cb"))
        .select(col("a"), col("b"), col("w"), col("ca"), col("cb")))
      val rel = inter.state
      if (inter.rows == 0L) done = true
      else {
        // each component's lightest incident inter-component edge,
        // candidates seen from both sides, total order (w, a, b)
        val cand = rel.select(col("ca").as("comp"),
            struct(col("w"), col("a"), col("b"), col("cb").as("oc")).as("c"))
          .union(rel.select(col("cb"),
            struct(col("w"), col("a"), col("b"), col("ca").as("oc"))))
        val minE = cand.groupBy("comp").agg(min(col("c")).as("c"))
          .transform(Materialize.eager(_).state)
        picked += minE.select(col("c.w").as("w"), col("c.a").as("a"),
          col("c.b").as("b")).distinct()
        // hooking pointers comp → other side of its pick; only 2-cycles
        // possible (see scaladoc), broken at the smaller id
        val g = minE.select(col("comp"), col("c.oc").as("to"))
        val g2 = g.join(g.select(col("comp").as("t2"), col("to").as("tt")),
            col("to") === col("t2"))
          .select(col("comp"),
            when(col("tt") === col("comp"), least(col("comp"), col("to")))
              .otherwise(col("to")).as("par"))
        // pointer doubling: after j hops every pointer spans 2^j tree
        // levels, so 63 hops flatten any tree of at most 2^63 vertices
        // and the 64th round sees no change; each row carries its
        // previous pointer for the probe
        val jumped = Superstep.converge("boruvka_jump",
            Materialize.eager(g2).state, 64) { (parent, _) =>
          val hop = parent.select(col("comp").as("hc"), col("par").as("hp"))
          parent.join(hop, col("par") === col("hc"))
            .select(col("comp"), col("hp").as("par"), col("par").as("prev"))
        }(Superstep.changedRows("par", "prev"), Superstep.untilZero)
        require(jumped.converged, "Boruvka pointer jumping did not converge in 64 rounds")
        val parent = jumped.labels
        val newLabels = labels
          .join(parent.select(col("comp"), col("par")), Seq("comp"))
          .select(col("id"), col("par").as("comp"))
          .transform(Materialize.eager(_).state)
        labels = newLabels
      }
    }
    canon.unpersist(blocking = false)
    if (picked.isEmpty)
      canon.sparkSession.range(0).select(col("id").as("a"),
        col("id").as("b"), col("id").as("w"))
    else picked.reduce(_ union _).distinct()
      .select(col("a"), col("b"), col("w"))
  }
}
