package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.graph.GraphOps

/** Per-component bipartiteness check: a component is bipartite iff no
  * edge joins two vertices whose shortest-path distances from the
  * component root share parity (an odd cycle exists exactly when such an
  * edge does). Roots come free from connected components — the min-id
  * label IS a member vertex — and the parity layers come from the shared
  * multi-source BFS, so the whole test is CC + one BFS + one edge join.
  * On a link graph this is the two-mode-structure detector (directory
  * hubs vs content pages bipartition, or its absence).
  *
  * Returns (component, n_vertices, n_layered, n_odd_edges, bipartite
  * 0/1). Caveat shared with every BFS gate: components deeper than
  * [[Betweenness.DepthCap]] levels leave far vertices unlayered (web
  * graphs sit well under it; pathological path graphs need a raised
  * cap) — `n_layered` < `n_vertices` is the caller's signal that the
  * parity test only covered the layered prefix, so `bipartite = 1` on
  * such a component is a partial-coverage verdict, not a certificate
  * (ADVICE r4: the silent under-coverage is now visible per row).
  */
object Bipartite {

  def check(edges: DataFrame): DataFrame = {
    // the CC result is an iterative lazy plan referenced three times
    // below (sources, layer join, size agg) — truncate it once or the
    // re-expanded plans blow the driver heap
    val lab = ConnectedComponents.runAlternating(edges)
      .transform(graft.engine.Materialize.eager(_).state)
    val sources = lab.select(col("label").as("id")).distinct()
    val lv = Betweenness.bfsLevels(edges, sources)
    val own = lv.join(
        lab.select(col("id"), col("label").as("source")), Seq("source", "id"))
      .select(col("source").as("component"), col("id"),
        (col("dist") % 2).as("p"))
      // referenced three times below (two conflict legs + coverage agg)
      .transform(graft.engine.Materialize.eager(_).state)
    val layered = own.groupBy("component")
      .agg(count(lit(1)).as("n_layered"))
    val conflicts = edges
      .join(own.select(col("component"), col("id").as("src"),
        col("p").as("ps")), "src")
      .join(own.select(col("component").as("c2"), col("id").as("dst"),
        col("p").as("pd")), "dst")
      .filter(col("component") === col("c2") && col("ps") === col("pd"))
      .groupBy("component")
      .agg((count(lit(1)) / 2).cast("long").as("n_odd_edges"))
    lab.groupBy(col("label").as("component"))
      .agg(count(lit(1)).as("n_vertices"))
      .join(layered, Seq("component"), "left")
      .join(conflicts, Seq("component"), "left")
      .select(col("component"), col("n_vertices"),
        coalesce(col("n_layered"), lit(0L)).as("n_layered"),
        coalesce(col("n_odd_edges"), lit(0L)).as("n_odd_edges"),
        when(coalesce(col("n_odd_edges"), lit(0L)) === 0, lit(1L))
          .otherwise(lit(0L)).as("bipartite"))
  }
}
