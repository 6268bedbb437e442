package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{Materialize, Superstep}
import graft.graph.GraphOps

/** Continuous label spreading (Zhu–Ghahramani harmonic propagation with
  * the random-walk normalization and clamped seeds):
  *
  *   F₀(v, c)    = Y(v, c)                    (1 for v's seed class, else 0)
  *   Fₜ₊₁(v, c) = α · ( Σ_{u ∈ N(v)} Fₜ(u, c) ) / deg(v) + (1 − α) · Y(v, c)
  *
  * — the CONTINUOUS counterpart of [[LabelPropagation.runSeededFixed]]:
  * where seeded LP advances a hard frontier one hop per superstep, label
  * spreading diffuses fractional class mass along every edge, so a vertex
  * two hops from conflicting seeds carries a calibrated score per class
  * instead of a first-wins label. This is semi-supervised page
  * classification on the link graph (a handful of labeled hosts →
  * class scores for every reachable page); the reference's ground-truth
  * machinery (`Graph.cu:120-170`) supplies exactly the seed shape.
  *
  * State is LONG format (id, cls, f) — never one column per class — so
  * the class count scales without schema changes and the per-superstep
  * plan is the LP gather itself: one edge⋈state equi-join, one
  * partial-aggregated groupBy(id, cls), one vertex-sized degree join.
  * Zero-mass (id, cls) rows are dropped from the carried state (the
  * diffusion only ever ADDS mass along edges, so absent = 0.0 exactly),
  * keeping state ≤ |reached pairs|, not |V| · |classes|. Each superstep
  * eagerly truncates lineage (the state feeds both the next gather and
  * the seed re-blend).
  *
  * Returns (id, cls, f) for every pair with f > 0 after `supersteps`
  * rounds. Scores are NOT per-vertex normalized; callers argmax or
  * normalize downstream (the gate rounds f·10⁶).
  */
object LabelSpreading {

  def run(edges: DataFrame, seeds: DataFrame, alpha: Double,
          supersteps: Int): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    require(supersteps >= 1)
    val deg = GraphOps.degrees(edges)
      .select(col("id"), col("degree"))
      .transform(Materialize.eager(_).state)
    val y = seeds.select(col("id"), col("cls"), lit(1.0).as("y"))
      .transform(Materialize.eager(_).state)
    val f0 = y.select(col("id"), col("cls"), col("y").as("f"))
    Superstep.fixed(f0, supersteps, readsPrevOnce = false) { (f, _) =>
      val gathered = edges
        .join(f, edges("dst") === f("id"))
        .select(edges("src").as("id"), col("cls"), col("f"))
        .groupBy("id", "cls").agg(sum(col("f")).as("s"))
        .join(deg, Seq("id"))
        .select(col("id"), col("cls"),
          (lit(alpha) * col("s") / col("degree")).as("df"))
      gathered
        .join(y, Seq("id", "cls"), "outer")
        .select(col("id"), col("cls"),
          (coalesce(col("df"), lit(0.0)) +
            lit(1.0 - alpha) * coalesce(col("y"), lit(0.0))).as("f"))
        .filter(col("f") > 0)
    }
  }
}
