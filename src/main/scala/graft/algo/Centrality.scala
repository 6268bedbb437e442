package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{Materialize, Superstep}
import graft.graph.GraphOps

/** Distance-based centralities over the multi-source BFS levels that
  * betweenness already computes ([[Betweenness.bfsLevels]]) — the
  * operators a link-graph user reaches for right after PageRank/BC when
  * ranking pages by reachability rather than by citation mass.
  *
  * Both are defined per SOURCE over its reachable set (the standard
  * disconnected-graph formulations):
  *
  *   harmonic(s)  = Σ_{v≠s reached} 1 / d(s,v)      (Marchiori–Latora)
  *   closeness(s) = (|R(s)|−1) / Σ_{v≠s} d(s,v)     (Wasserman–Faust
  *                  within-component form)
  *
  * At web scale this runs on a sampled source set exactly like sampled
  * Brandes — the per-source cost is one row per (source, reached vertex),
  * and the aggregation is a single partial-aggregated groupBy(source), so
  * the whole operator adds ONE shuffle on top of the BFS itself.
  */
object Centrality {

  /** (id, reached, harmonic, closeness) per source vertex; `reached`
    * counts vertices at distance ≥ 1. Sources reaching nothing get 0s.
    */
  def sampledCloseness(edges: DataFrame, sources: DataFrame,
                       maxDepth: Int = Betweenness.DepthCap): DataFrame = {
    val lev = Betweenness.bfsLevels(edges, sources, maxDepth)
      .filter(col("dist") > 0)
    sources.select(col("id"))
      .join(
        lev.groupBy(col("source").as("id")).agg(
          count(lit(1)).as("reached"),
          sum(lit(1.0) / col("dist")).as("harmonic"),
          sum(col("dist")).as("sumDist")),
        Seq("id"), "left")
      .select(col("id"),
        coalesce(col("reached"), lit(0L)).as("reached"),
        coalesce(col("harmonic"), lit(0.0)).as("harmonic"),
        coalesce(
          (col("reached").cast("double")) / col("sumDist"), lit(0.0))
          .as("closeness"))
  }

  /** Distance histogram over sampled BFS levels (`(source, id, dist)` —
    * the [[Betweenness.bfsLevels]] schema): one row per positive distance
    * with the number of reached ordered (source, vertex) pairs. Self-pairs
    * (dist 0) are excluded — diameter statistics are about distinct pairs.
    * One partial-aggregated groupBy; output size ≤ the BFS depth cap.
    */
  def distanceHistogram(levels: DataFrame): DataFrame =
    levels.filter(col("dist") > 0)
      .groupBy("dist").agg(count(lit(1)).as("pairs"))

  /** HyperANF (Boldi–Rosa–Vigna): the approximate neighborhood function
    * N(h) = #(ordered pairs within distance ≤ h, self-pairs included)
    * for EVERY vertex at once — the 100 TB path for distance statistics,
    * where per-source BFS (even sampled) cannot touch all vertices. Per
    * vertex the state is a native Spark HLL sketch (Datasketches binary)
    * of its h-ball; one superstep is exactly the LP gather shape —
    * neighbor sketches union-aggregated by destination (`hll_union_agg`
    * is partial-aggregable, so map-side combine bounds the shuffle by
    * distinct vertices per partition) then merged with the previous ball.
    * State is referenced twice per step (gather + merge), so each round
    * of the convergence driver truncates eagerly with real statistics;
    * the round's one probe is N(h).
    *
    * Stops early when N(h) grows by less than `tolerance` relative — on
    * a connected graph that is the effective-diameter horizon, h ≪ n.
    *
    * Sketches are not bit-replayable across engines, so this operator is
    * ScalaTest-verified against the exact neighborhood function (like
    * SimHash64's codegen parity, an sbt-only gate by nature); the EXACT
    * sampled path ([[distanceHistogram]]/[[effectiveDiameter]]) carries
    * the driver oracle.
    *
    * @return (depth, pairs_est) for h = 0..stop, pairs_est = Σ_v |B(v,h)|
    */
  def neighborhoodFunctionApprox(edges: DataFrame, maxDepth: Int = 16,
                                 lgConfigK: Int = 12,
                                 tolerance: Double = 0.001): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val balls0 = GraphOps.vertices(e)
      .groupBy(col("id")).agg(hll_sketch_agg(col("id"), lgConfigK).as("sk"))
      .transform(Materialize.eager)
    // coalesce: an empty vertex set sums to NULL, and the series should
    // degrade to a single (0, 0) row rather than NPE
    def total(b: DataFrame): DataFrame =
      b.agg(coalesce(sum(hll_sketch_estimate(col("sk"))), lit(0L)))
    var prevN = total(balls0).first().getLong(0)
    val series = scala.collection.mutable.ArrayBuffer[(Long, Long)]((0L, prevN))
    // empty graph: no rounds, the series is just (0, 0)
    Superstep.converge("hyperanf", balls0,
        if (prevN == 0L) 0 else maxDepth, realStats = true) { (balls, _) =>
      val gathered = e.join(balls, e("dst") === balls("id"))
        .groupBy(e("src").as("gid"))
        .agg(hll_union_agg(col("sk")).as("gsk"))
      balls.join(gathered, balls("id") === col("gid"), "left")
        .select(col("id"),
          when(col("gsk").isNull, col("sk"))
            .otherwise(hll_union(col("sk"), col("gsk"))).as("sk"))
    }((next, _, _) => total(next), (h, row) => {
      val n = row.getLong(0)
      series += ((h.toLong, n))
      val verdict = Superstep.Verdict(n - prevN, 0L,
        n <= prevN || (n - prevN).toDouble / prevN < tolerance)
      prevN = n
      verdict
    })
    e.unpersist(blocking = false)
    series.toSeq.toDF("depth", "pairs_est")
  }

  /** q-effective diameter from sampled BFS — the standard web-graph
    * diagnostic (the "N degrees of separation" statistic of the ANF /
    * HyperANF literature, computed here from exact sampled BFS rather
    * than probabilistic counters): the smallest distance d whose
    * cumulative reached-pair count covers q of all reached pairs, plus
    * the pair total and the mean distance.
    *
    * q is the rational qNum/qDen so the threshold rule is pure integer
    * arithmetic (`cum·qDen ≥ total·qNum`) — no float compare at the
    * boundary, hence bit-replayable by the driver oracle. Integer rule,
    * no interpolation. The cumulative window runs over the ≤ depth-cap-row
    * HISTOGRAM, never over the data, so the single-partition window is
    * constant-size at any graph scale.
    *
    * @return one row: (eff_diameter, reached_pairs, mean_dist)
    */
  def effectiveDiameter(levels: DataFrame, qNum: Long = 9,
                        qDen: Long = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = distanceHistogram(levels)
    val tot = hist.agg(
      sum(col("pairs")).cast("long").as("total"),
      sum(col("dist") * col("pairs")).cast("long").as("distsum"))
    val cum = hist.select(col("dist"),
      sum(col("pairs")).over(Window.orderBy(col("dist"))).cast("long").as("cum"))
    cum.crossJoin(tot)
      .filter(col("cum") * lit(qDen) >= col("total") * lit(qNum))
      .orderBy(col("dist")).limit(1)
      .select(col("dist").as("eff_diameter"),
        col("total").as("reached_pairs"),
        (col("distsum").cast("double") / col("total")).as("mean_dist"))
  }

  /** Double-sweep diameter lower bound (Magnien–Latapy–Habib): BFS from a
    * deterministic start (the minimum vertex id), then BFS again from the
    * farthest vertex found (max dist, min id on ties) — two BFS passes
    * whose second eccentricity is the classic tight diameter lower bound
    * on real graphs, vs the full O(n·E) exact sweep. The two scalars
    * crossing the driver are 1-row argmax/argmin lookups (TakeOrdered);
    * the BFS machinery is the shared [[Betweenness.bfsLevels]].
    *
    * @return one row: (start_id, far_id, lb_diameter) — the second
    *         sweep's eccentricity from `far_id`, restricted to the start
    *         vertex's component (the BFS reaches exactly that component)
    */
  def doubleSweep(edges: DataFrame,
                  maxDepth: Int = Betweenness.DepthCap): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val verts = GraphOps.vertices(edges)
    val start = verts.agg(min(col("id"))).first().getLong(0)
    val lv1 = Betweenness.bfsLevels(edges,
      verts.filter(col("id") === start), maxDepth)
    val farRow = lv1.orderBy(col("dist").desc, col("id").asc)
      .select(col("id")).limit(1).first()
    val farId = farRow.getLong(0)
    val lv2 = Betweenness.bfsLevels(edges,
      verts.filter(col("id") === farId), maxDepth)
    val lb = lv2.agg(max(col("dist")).cast("long")).first().getLong(0)
    Seq((start, farId, lb))
      .toDF("start_id", "far_id", "lb_diameter")
  }

  /** Landmark distance oracle (Potamias et al., CIKM 2009): precompute
    * BFS levels from a small landmark set L, then estimate any pairwise
    * distance by the triangle-inequality upper bound
    *
    *   d̂(u, v) = min_{l ∈ L} d(l, u) + d(l, v)
    *
    * — THE standard way pairwise distances are served at web scale,
    * where an exact per-query BFS is unaffordable: |L| BFS passes once,
    * then every query is two hash-join lookups. The estimate is exact
    * whenever some landmark lies on a shortest u–v path (why high-
    * centrality landmarks work best; callers pick them by degree or PR).
    *
    * Plan: the landmark level table (|L| · |reached| rows) joins the
    * candidate pairs on each endpoint — two equi-joins whose build side
    * is landmark-sliced — then one partial-aggregated groupBy(src, dst)
    * takes the min. Every input pair is emitted: `n_landmarks` counts
    * the landmarks seeing BOTH endpoints and `est_dist` is null when
    * that count is 0 (different components, or past `maxDepth`).
    *
    * @return (src, dst, n_landmarks, est_dist)
    */
  def landmarkDistances(edges: DataFrame, landmarks: DataFrame,
                        pairs: DataFrame,
                        maxDepth: Int = Betweenness.DepthCap): DataFrame = {
    val lv = Betweenness.bfsLevels(edges, landmarks, maxDepth)
      .transform(graft.engine.Materialize.eager)
    val du = lv.select(col("source").as("lu"), col("id").as("src"),
      col("dist").as("d_u"))
    val dv = lv.select(col("source").as("lv2"), col("id").as("dst2"),
      col("dist").as("d_v"))
    val est = pairs.select(col("src"), col("dst"))
      .join(du, Seq("src"))
      .join(dv, col("lu") === col("lv2") && col("dst") === col("dst2"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).cast("long").as("n_landmarks"),
        min(col("d_u") + col("d_v")).cast("long").as("est_dist"))
    pairs.select(col("src"), col("dst"))
      .join(est, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("n_landmarks"), lit(0L)).as("n_landmarks"),
        col("est_dist"))
  }
}
