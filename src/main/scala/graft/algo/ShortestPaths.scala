package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.Superstep

/** Weighted single/multi-source shortest paths — distributed Bellman–Ford
  * relaxation over the (src, dst, weight) edge table, the weighted
  * counterpart of [[Betweenness.bfsLevels]] and the natural consumer of
  * the Pajek costs the reference parses (`Graph.cu:442-447`) but never
  * uses.
  *
  * One round relaxes every edge once:
  *
  *   d_t(v) = min( d_{t-1}(v), min_{u→v} d_{t-1}(u) + w(u,v) )
  *
  * expressed as one equi-join (edges pre-partitioned by src ⇒ co-located
  * against the distance table), one partial-aggregated groupBy(dst) min,
  * and one outer merge — the same two-shuffle skeleton as a LP superstep,
  * so the 100 TB shape is identical: shuffle volume is bounded by the
  * reached frontier, never by path enumeration. Distances are LONG sums
  * of integer weights — exact, so the driver gate compares unrounded.
  *
  * The distance state is referenced twice per round (relax + merge), so
  * each round eagerly truncates lineage — the Gauss–Seidel lesson: a lazy
  * chain would double the plan per round.
  */
object ShortestPaths {

  /** One Bellman–Ford relaxation round: relax every edge against the
    * current (id, dist) table and merge (exposed for the plan gate —
    * the public entry points checkpoint each round, which hides the
    * round's plan behind an RDD scan).
    */
  private[graft] def relaxOnce(e: DataFrame, dist: DataFrame): DataFrame = {
    val relaxed = e
      .join(dist.select(col("id").as("rid"), col("dist").as("rdist")),
        col("src") === col("rid"))
      .groupBy(col("dst").as("id"))
      .agg(min(col("rdist") + col("w")).as("cand"))
    dist
      .join(relaxed.select(col("id").as("nid"), col("cand")),
        col("id") === col("nid"), "full")
      .select(
        coalesce(col("id"), col("nid")).as("id"),
        least(
          coalesce(col("dist"), lit(Long.MaxValue)),
          coalesce(col("cand"), lit(Long.MaxValue))).as("dist"))
  }

  private[graft] def weighted(weightedEdges: DataFrame): DataFrame =
    weightedEdges.select(col("src"), col("dst"),
      col("weight").cast("long").as("w"))

  /** Fixed `rounds` Bellman–Ford relaxations from `sources` (a df with an
    * `id` column). Returns (id, dist) for vertices reached within that
    * many hops — after `rounds ≥ diameter` this is the exact SSSP table.
    */
  def runFixed(weightedEdges: DataFrame, sources: DataFrame,
               rounds: Int): DataFrame = {
    val e = weighted(weightedEdges).persist(StorageLevel.MEMORY_AND_DISK)
    var dist = sources.select(col("id"), lit(0L).as("dist"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var r = 0
    while (r < rounds) {
      r += 1
      val next = relaxOnce(e, dist)
        .localCheckpoint(eager = true)
      dist.unpersist(blocking = false)
      dist = next
    }
    e.unpersist(blocking = false)
    dist
  }

  /** Per-source fixed-round Bellman–Ford: [[runFixed]] with a `source`
    * dimension carried through the relaxation, so each source keeps its
    * OWN distance field (runFixed merges them into a multi-source min).
    * State is (source, id, dist) — |sources| · |reached| rows, the
    * sampled-centrality budget — and each round is the same one
    * join + one (source, dst)-keyed min agg + one full-outer merge.
    */
  def runFixedPerSource(weightedEdges: DataFrame, sources: DataFrame,
                        rounds: Int): DataFrame = {
    val e = weighted(weightedEdges).persist(StorageLevel.MEMORY_AND_DISK)
    var dist = sources
      .select(col("id").as("source"), col("id"), lit(0L).as("dist"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var r = 0
    while (r < rounds) {
      r += 1
      val relaxed = e
        .join(dist.select(col("source"), col("id").as("rid"),
            col("dist").as("rdist")),
          col("src") === col("rid"))
        .groupBy(col("source"), col("dst").as("id"))
        .agg(min(col("rdist") + col("w")).as("cand"))
      val next = dist
        .join(relaxed.select(col("source").as("ns"), col("id").as("nid"),
            col("cand")),
          col("source") === col("ns") && col("id") === col("nid"), "full")
        .select(
          coalesce(col("source"), col("ns")).as("source"),
          coalesce(col("id"), col("nid")).as("id"),
          least(
            coalesce(col("dist"), lit(Long.MaxValue)),
            coalesce(col("cand"), lit(Long.MaxValue))).as("dist"))
        .localCheckpoint(eager = true)
      dist.unpersist(blocking = false)
      dist = next
    }
    e.unpersist(blocking = false)
    dist
  }

  /** Weighted closeness centrality from `rounds` per-source relaxations
    * (exact once rounds ≥ the weighted-hop diameter): per source over
    * its reached set,
    *
    *   closeness(s) = |R(s) \ {s}| / Σ_{v ∈ R(s), v≠s} d(s, v)
    *
    * — the Dijkstra-family counterpart of the BFS [[Centrality]] pair,
    * needed whenever link weights mean cost (latency, toll, 1/clicks).
    * Exact integer distance sums; the single divide is e9-rounded.
    *
    * @return (source, reached, sum_dist, closeness_e9)
    */
  def weightedCloseness(weightedEdges: DataFrame, sources: DataFrame,
                        rounds: Int): DataFrame =
    runFixedPerSource(weightedEdges, sources, rounds)
      .groupBy("source")
      .agg(sum(when(col("id") =!= col("source"), 1L).otherwise(0L))
          .cast("long").as("reached"),
        sum(when(col("id") =!= col("source"), col("dist")).otherwise(0L))
          .cast("long").as("sum_dist"))
      .select(col("source"), col("reached"), col("sum_dist"),
        when(col("sum_dist") > 0,
          round(col("reached") * lit(1000000000L) / col("sum_dist"))
            .cast("long"))
          .otherwise(lit(0L)).as("closeness_e9"))

  /** Weighted harmonic centrality from the same per-source relaxation:
    * harmonic(s) = Σ_{v ≠ s reached} 1/d(s,v) — robust to disconnection
    * (unreached terms are simply absent, no |R| normalization games).
    * Order-free by the engine's integer contract: each 1/d term is
    * e9-rounded BEFORE the per-source sum, so the sum is exact-integer.
    *
    * @return (source, reached, harmonic_e9)
    */
  def weightedHarmonic(weightedEdges: DataFrame, sources: DataFrame,
                       rounds: Int): DataFrame =
    runFixedPerSource(weightedEdges, sources, rounds)
      .filter(col("id") =!= col("source"))
      .select(col("source"),
        round(lit(1000000000L) / col("dist")).cast("long").as("t"))
      .groupBy("source")
      .agg(count(lit(1)).cast("long").as("reached"),
        sum(col("t")).cast("long").as("harmonic_e9"))

  /** Relax until no distance improves (exact SSSP; at most `maxRounds`
    * relaxation rounds — |V|−1 suffices for any non-negative weighting).
    * Returns (distances, rounds run, converged).
    */
  def run(weightedEdges: DataFrame, sources: DataFrame,
          maxRounds: Int = 10000): (DataFrame, Int, Boolean) = {
    val e = weightedEdges.select(col("src"), col("dst"),
        col("weight").cast("long").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val init = sources.select(col("id"), lit(0L).as("dist"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val res = Superstep.converge("sssp", init, maxRounds) { (prev, _) =>
      val dist = prev.select(col("id"), col("dist"))
      val relaxed = e
        .join(dist.select(col("id").as("rid"), col("dist").as("rdist")),
          col("src") === col("rid"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("rdist") + col("w")).as("cand"))
      dist
        .join(relaxed.select(col("id").as("nid"), col("cand")),
          col("id") === col("nid"), "full")
        .select(
          coalesce(col("id"), col("nid")).as("id"),
          least(
            coalesce(col("dist"), lit(Long.MaxValue)),
            coalesce(col("cand"), lit(Long.MaxValue))).as("dist"),
          // an improvement is a new vertex or a strictly smaller distance
          (col("id").isNull || (col("cand").isNotNull && col("cand") < col("dist")))
            .as("improved"))
    }((next, _, _) => next.agg(count_if(col("improved"))), Superstep.untilZero)
    if (res.labels ne init) init.unpersist(blocking = false)
    e.unpersist(blocking = false)
    (res.labels.select(col("id"), col("dist")), res.iterations, res.converged)
  }

  /** Time-respecting earliest-arrival reachability over a TEMPORAL edge
    * table (src, dst, t): a path is legal only if its edge timestamps are
    * non-decreasing, and arr(v) is the earliest time one can be at v
    * having left a source at time ≥ 0 — the crawl-propagation question
    * ("when could a change first have reached this page") and the
    * temporal-graph analog of BFS.
    *
    * One round relaxes every temporal edge once:
    *
    *   arr_t(v) = min( arr_{t-1}(v), min_{(u,v,t): t ≥ arr_{t-1}(u)} t )
    *
    * — the [[relaxOnce]] skeleton with the `+ w` sum replaced by a
    * time-window filter and the edge's own timestamp as the candidate.
    * Arrival times are exact integer epochs, monotone non-increasing per
    * vertex, so fixed-round truncation is oracle-able. Same 100 TB
    * story: per round one co-located equi-join + one partial-aggregated
    * min, shuffle bounded by the reached frontier.
    */
  def earliestArrival(timedEdges: DataFrame, sources: DataFrame,
                      rounds: Int): DataFrame = {
    val e = timedEdges.select(col("src"), col("dst"), col("t").cast("long").as("t"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var arr = sources.select(col("id"), lit(0L).as("arr"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var r = 0
    while (r < rounds) {
      r += 1
      val relaxed = e
        .join(arr.select(col("id").as("rid"), col("arr").as("ra")),
          col("src") === col("rid"))
        .filter(col("t") >= col("ra"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("t")).as("cand"))
      val next = arr
        .join(relaxed.select(col("id").as("nid"), col("cand")),
          col("id") === col("nid"), "full")
        .select(
          coalesce(col("id"), col("nid")).as("id"),
          least(
            coalesce(col("arr"), lit(Long.MaxValue)),
            coalesce(col("cand"), lit(Long.MaxValue))).as("arr"))
        .localCheckpoint(eager = true)
      arr.unpersist(blocking = false)
      arr = next
    }
    e.unpersist(blocking = false)
    arr
  }
}
