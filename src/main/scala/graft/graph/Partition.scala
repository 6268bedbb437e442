package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.Superstep

/** Graph partitioning for serving/sharding — the operator a link graph
  * actually needs BEFORE any 1000-executor job: which shard owns which
  * vertex (edge-cut model) or which shard owns which edge (vertex-cut
  * model), and how good the layout is.
  *
  * No reference counterpart (the reference is single-GPU); SURVEY §2.9
  * web-pipeline family. All three operators are exact-integer and
  * deterministic, so the driver gate replays them in DuckDB.
  */
object Partition {

  /** Size-constrained balanced label propagation (the LP-sharding scheme
    * of Ugander–Backstrom, WSDM 2013, in its deterministic synchronous
    * form): start from the hash layout `shard = id % k`, then per
    * superstep move each vertex toward its neighbor-majority shard,
    * admitting movers per target shard only up to the capacity quota.
    *
    * Deterministic move rule per superstep:
    *   - candidate target = argmax over shards of the vertex's neighbor
    *     count there, ties to the SMALLER shard id;
    *   - gain = cnt(target) − cnt(current shard); only gain > 0 moves;
    *   - per target shard, movers rank by (gain desc, id asc) and only
    *     the top `cap − size(target)` are admitted, where
    *     cap = (n·capNum) div (k·capDen) — the synchronous quota uses
    *     the PRE-step sizes (outgoing moves don't free quota mid-step),
    *     the standard one-sided approximation that keeps every step a
    *     pure dataflow.
    *
    * Scale shape per superstep: one edges⋈assignment equi-join, two hash
    * aggs, one per-vertex argmax window (bounded by the vertex's distinct
    * neighbor shards ≤ k) and one per-shard ranking window over the
    * CANDIDATE movers only (quota-bounded); state is one (id, shard)
    * table, eagerly truncated per step. The quota windows partition BY
    * SHARD — k partitions; at web scale k is thousands of shards, so the
    * mover-ranking skews only if one shard attracts a large share of all
    * movers in one step, which the quota itself caps at the next step.
    *
    * @param edges directed slots of a symmetrized graph (src, dst)
    * @param k     shard count (≥ 2)
    * @param iters fixed supersteps (driver-oracle shape)
    * @param capNum/capDen capacity factor as an exact rational ≥ 1
    *        (default 11/10 = 1.1× the even share)
    * @return (id, shard)
    */
  def balancedLp(edges: DataFrame, k: Int, iters: Int,
                 capNum: Long = 11L, capDen: Long = 10L): DataFrame = {
    require(k >= 2 && iters >= 0 && capNum >= capDen && capDen >= 1)
    val e = edges.select(col("src"), col("dst"))
      .transform(graft.engine.Materialize.eager)
    val verts = GraphOps.vertices(e)
      .transform(graft.engine.Materialize.eager)
    val n = verts.count()
    val cap = (n * capNum) / (k * capDen)
    val hashed = verts.select(col("id"), (col("id") % k).as("shard"))
      .transform(graft.engine.Materialize.eager)
    Superstep.fixed(hashed, iters, readsPrevOnce = false) { (assign, _) =>
      val sizes = assign.groupBy("shard").agg(count(lit(1)).as("sz"))
      // neighbor-shard census per vertex
      val nbr = e.join(assign.select(col("id").as("dst"),
          col("shard").as("s_nbr")), "dst")
        .groupBy(col("src").as("id"), col("s_nbr"))
        .agg(count(lit(1)).as("cnt"))
      val best = nbr.withColumn("rn", row_number().over(
          Window.partitionBy("id").orderBy(col("cnt").desc, col("s_nbr").asc)))
        .filter(col("rn") === 1)
        .select(col("id"), col("s_nbr").as("target"), col("cnt").as("tcnt"))
      val curCnt = assign.join(nbr.withColumnRenamed("s_nbr", "shard"),
          Seq("id", "shard"), "left")
        .select(col("id"), col("shard"),
          coalesce(col("cnt"), lit(0L)).as("ccnt"))
      val cand = curCnt.join(best, "id")
        .filter(col("target") =!= col("shard") && col("tcnt") > col("ccnt"))
        .select(col("id"), col("shard"), col("target"),
          (col("tcnt") - col("ccnt")).as("gain"))
      val admitted = cand
        .join(sizes.select(col("shard").as("target"), col("sz")),
          Seq("target"), "left")
        .withColumn("rn", row_number().over(
          Window.partitionBy("target").orderBy(col("gain").desc,
            col("id").asc)))
        .filter(col("rn") <= lit(cap) - coalesce(col("sz"), lit(0L)))
        .select(col("id"), col("target"))
      assign.join(admitted, Seq("id"), "left")
        .select(col("id"), coalesce(col("target"), col("shard")).as("shard"))
    }
  }

  /** Layout audit for a vertex-sharding: edge-cut fraction (e6) and
    * balance = max shard size ÷ even share (e6; 10⁶ = perfect). The two
    * numbers every sharded serving layer watches: cut is cross-shard
    * traffic, balance is the hottest shard's overload.
    *
    * @param edges  directed slots (src, dst)
    * @param assign (id, shard)
    * @return 1 row (n_vertices, n_edges, cut_edges, cut_e6, balance_e6)
    */
  def cutQuality(edges: DataFrame, assign: DataFrame): DataFrame = {
    val lab = edges
      .join(assign.select(col("id").as("src"), col("shard").as("ss")), "src")
      .join(assign.select(col("id").as("dst"), col("shard").as("ds")), "dst")
    val cut = lab.agg(count(lit(1)).as("n_edges"),
      sum(when(col("ss") =!= col("ds"), 1L).otherwise(0L)).as("cut_edges"))
    val bal = assign.groupBy("shard").agg(count(lit(1)).as("sz"))
      .agg(max(col("sz")).as("max_sz"), sum(col("sz")).as("n_vertices"),
        count(lit(1)).as("k"))
    cut.crossJoin(bal)
      .select(col("n_vertices"), col("n_edges"),
        col("cut_edges").cast("long").as("cut_edges"),
        expr("cut_edges * 1000000 div n_edges").as("cut_e6"),
        expr("max_sz * k * 1000000 div n_vertices").as("balance_e6"))
  }

  /** 2D grid edge partitioning (the GraphX `EdgePartition2D` strategy):
    * edge (src, dst) lands on shard (src % rows)·cols + (dst % cols), so
    * a vertex's out-edges spread over at most `cols` shards and its
    * in-edges over at most `rows` — replication is BOUNDED at
    * rows + cols − 1 per vertex regardless of degree, the property that
    * makes 2D layouts the default for power-law graphs (a 10⁸-degree hub
    * costs 2√k replicas, not k). Same audit columns as
    * [[vertexCutStats]] for side-by-side comparison.
    *
    * @return 1 row (k, n_vertices, n_replicas, rf_e6)
    */
  def grid2dStats(edges: DataFrame, rows: Int, cols: Int): DataFrame = {
    require(rows >= 1 && cols >= 1)
    val sharded = edges.select(col("src"), col("dst"),
      ((col("src") % rows) * cols + col("dst") % cols).as("eshard"))
    val reps = sharded.select(col("src").as("id"), col("eshard"))
      .union(sharded.select(col("dst").as("id"), col("eshard")))
      .distinct()
    reps.agg(count(lit(1)).as("n_replicas"),
        countDistinct(col("id")).as("n_vertices"))
      .select(lit((rows * cols).toLong).as("k"), col("n_vertices"),
        col("n_replicas").cast("long").as("n_replicas"),
        expr("n_replicas * 1000000 div n_vertices").as("rf_e6"))
  }

  /** Community quotient graph — contract the edge table by a vertex
    * labeling (communities, components, shards): one vertex per label,
    * edge weight = inter-label slot count, intra-label slots kept as
    * self-loop weight. THE graph-summarization step: a 10¹²-edge url
    * graph becomes a community-level graph orders of magnitude smaller
    * that downstream algorithms (PageRank-over-communities, macro
    * structure, visual analytics) run on directly. Two equi-joins + one
    * partial-aggregated groupBy — shuffle bounded by distinct label
    * PAIRS, not edges (the HostGraph.contract economics, for any
    * labeling).
    *
    * @param edges  directed slots (src, dst)
    * @param labels (id, label)
    * @return (src_label, dst_label, weight)
    */
  def quotient(edges: DataFrame, labels: DataFrame): DataFrame =
    edges
      .join(labels.select(col("id").as("src"), col("label").as("src_label")),
        "src")
      .join(labels.select(col("id").as("dst"), col("label").as("dst_label")),
        "dst")
      .groupBy("src_label", "dst_label")
      .agg(count(lit(1)).as("weight"))

  /** PowerGraph-style vertex-cut statistics: edges hash to `k` shards by
    * the md5 trick (DuckDB-replayable), every vertex is replicated onto
    * each shard holding one of its edges, and the replication factor —
    * mean replicas per vertex — is THE cost of the edge-partitioned
    * layout (gather/apply traffic multiplies by it). Hash edge
    * placement is the worst-case baseline the greedy placers are judged
    * against; rf close to min(k, mean degree) means hashing wastes
    * nothing on this graph.
    *
    * @param edges directed slots (src, dst)
    * @return 1 row (k, n_vertices, n_replicas, rf_e6)
    */
  def vertexCutStats(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 1)
    val sharded = edges.select(col("src"), col("dst"),
      (graft.text.TextIndex.md5Uniform(
        concat_ws(":", col("src"), col("dst"))) % k).as("eshard"))
    val reps = sharded.select(col("src").as("id"), col("eshard"))
      .union(sharded.select(col("dst").as("id"), col("eshard")))
      .distinct()
    reps.agg(count(lit(1)).as("n_replicas"),
        countDistinct(col("id")).as("n_vertices"))
      .select(lit(k.toLong).as("k"), col("n_vertices"),
        col("n_replicas").cast("long").as("n_replicas"),
        expr("n_replicas * 1000000 div n_vertices").as("rf_e6"))
  }
}
