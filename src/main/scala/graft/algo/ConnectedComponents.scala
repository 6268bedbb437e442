package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{Checkpointer, Superstep}
import graft.graph.GraphOps

/** Connected components as min-label propagation (north_rule:
  * "min-label/mode-label updates"). Same gather/aggregate skeleton as
  * [[LabelPropagation]] with `min` replacing the mode-argmax; the update
  * is monotone, hence deterministic and exactly testable: at convergence
  * every vertex's label equals the minimum vertex id of its component.
  *
  * Scale: converges in O(diameter) supersteps on the dst-partitioned edge
  * table. For very-high-diameter graphs the classic large-star/small-star
  * contraction would cut iterations; web link graphs have small effective
  * diameter so plain min-propagation is the right default, and the
  * superstep metrics expose iteration counts to detect the exception.
  */
object ConnectedComponents {

  /** Alternating large-star/small-star contraction (the O(log n)-round
    * connected-components algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond") — the scale path for
    * high-diameter graphs, where plain min-label propagation needs
    * O(diameter) supersteps. Both operations preserve connectivity and
    * monotonically decrease labels toward the component minimum:
    *
    *   large-star: every u links each strictly-larger neighbor v to
    *               min(N(u) ∪ u)
    *   small-star: every u links itself and smaller neighbors to the min
    *
    * State is the parent-pointer edge set; converged when stable. Final
    * labels equal the component minimum — identical output contract to
    * [[run]], so the two are interchangeable (asserted in tests).
    */
  def runAlternating(edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    var g = GraphOps.symmetrize(edges.select("src", "dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var gCount = g.count()
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      round += 1
      // large-star: for each u, m = min over (neighbors ∪ u); emit (v, m)
      // for v in neighbors, v > u — keeps connectivity, shrinks stars
      val mins = g.groupBy(col("src").as("u"))
        .agg(least(min(col("dst")), first(col("src"))).as("m"))
      val large = g.select(col("src").as("u"), col("dst").as("v"))
        .join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .union(mins.select(col("u").as("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
      // small-star on the (now mostly parent-pointer) graph: point every
      // node and its smaller neighbors at the neighborhood minimum
      val lmins = large.groupBy(col("src").as("u"))
        .agg(least(min(col("dst")), first(col("src"))).as("m"))
      val small = large.select(col("src").as("u"), col("dst").as("v"))
        .join(lmins, "u")
        .filter(col("v") <= col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .union(lmins.select(col("u").as("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      val cut = graft.engine.Materialize.eager(GraphOps.symmetrize(small))
      val (next, nextCount) = (cut.state, cut.rows)
      // stability test: both sides are DISTINCT sets, so |next| == |g|
      // plus next ⊆ g implies equality; the count comes with the eager
      // truncation, and while the sets are still shrinking it alone
      // decides, with no action of its own
      done = nextCount == gCount && next.except(g).isEmpty
      g.unpersist(blocking = false)
      small.unpersist(blocking = false)
      g = next
      gCount = nextCount
    }
    // parent pointers: component min is each vertex's smallest neighbor
    val labels = g.groupBy(col("src").as("id"))
      .agg(least(min(col("dst")), first(col("src"))).as("label"))
    // vertices isolated after contraction (= component minima) label themselves
    val verts = GraphOps.vertices(GraphOps.symmetrize(edges.select("src", "dst")))
    verts.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** One min-propagation superstep. The keep-previous fallback rides the
    * aggregation as a SELF-MESSAGE (labels unioned into the gather output)
    * instead of a per-superstep vertex-sized left join:
    * min(own ∪ neighbor labels) ≡ least(own, coalesce(nbMin, own)) for
    * every vertex, including ones receiving no neighbor messages — one
    * hash aggregation per superstep, no join after the gather (guide §2.4:
    * two operations keyed the same way share one exchange). `labels` must
    * cover the full vertex set (the existing [[run]] contract — warm
    * starts left-join the vertex table and coalesce to own id).
    */
  def superstep(edges: DataFrame, labels: DataFrame): DataFrame = {
    // shuffle-hash build of the label state: same rationale as
    // LabelPropagation.gather (stats-less iterative state falls back to
    // SMJ and re-sorts the persisted edge side every superstep)
    val msgs = edges.join(labels.hint("shuffle_hash"),
        edges("dst") === labels("id"))
      .select(edges("src").as("id"), labels("label"))
    msgs.union(labels.select(col("id"), col("label")))
      .groupBy("id").agg(min(col("label")).as("label"))
  }

  /** Skew-aware min-propagation superstep — the LP hot/cold routing
    * ([[LabelPropagation.superstepSkewAware]]) with min replacing the
    * mode-argmax: cold edges gather via the ordinary shuffle join, hot
    * (high-in-degree dst) edges via a broadcast of the hot vertices'
    * labels. min is routing-invariant, so labels match [[superstep]]
    * exactly.
    */
  def superstepSkewAware(plan: GraphOps.SkewPlan, labels: DataFrame): DataFrame = {
    val hotLabels = labels.join(broadcast(plan.hotIds), Seq("id"), "left_semi")
    val coldMsgs = plan.coldEdges.join(labels.hint("shuffle_hash"),
        plan.coldEdges("dst") === labels("id"))
      .select(plan.coldEdges("src").as("id"), labels("label"))
    val hotMsgs = plan.hotEdges
      .join(broadcast(hotLabels), plan.hotEdges("dst") === hotLabels("id"))
      .select(plan.hotEdges("src").as("id"), hotLabels("label"))
    // self-message fold, as in [[superstep]]: no post-gather join
    coldMsgs.union(hotMsgs).union(labels.select(col("id"), col("label")))
      .groupBy("id").agg(min(col("label")).as("label"))
  }

  /** @param autoSkew as in [[LabelPropagation.run]]: derive the hot-vertex
    *        threshold from the in-degree distribution and route through
    *        the broadcast hot/cold split when a hot set exists.
    * @param initLabels warm start (id, label) — the incremental-CC entry
    *        point for a crawl delta that only ADDS edges: seed with the
    *        previous crawl's labels (new vertices keep their own id) and
    *        min-propagation converges to the same fixpoint as from
    *        scratch in rounds proportional to the MERGE depth, not the
    *        component diameter. Correctness: every old label names a
    *        vertex of the old component, edge additions keep it connected
    *        to its holder, so the per-new-component minimum of seed
    *        labels IS the new component's minimum id. (An edge-REMOVING
    *        delta invalidates this — re-run from scratch there.)
    * @param checkpointer durable snapshots every `checkpointEvery`-th
    *        round. Unlike `LabelPropagation.run` and `PageRank.run`, the
    *        run does not resume from them: it always starts from `init`.
    */
  def run(
      edges: DataFrame,
      nNodes: Long,
      checkpointer: Option[Checkpointer] = None,
      checkpointEvery: Int = 5,
      maxIter: Option[Int] = None,
      autoSkew: Boolean = true,
      initLabels: Option[DataFrame] = None): Superstep.Result = {
    val init = initLabels
      .map(_.select(col("id"), col("label")))
      .getOrElse(LabelPropagation.initLabels(GraphOps.vertices(edges)))
    val parts = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val derivedPlan =
      if (autoSkew) GraphOps.planSkewAuto(edges, parts) else None
    var it = 0
    val step: DataFrame => DataFrame = derivedPlan match {
      case Some(p) => labels => superstepSkewAware(p, labels)
      case None => labels => {
        it += 1
        // superstep 1 from identity init labels (no warm start): the
        // gather's label lookup is a no-op, so the messages ARE the edge
        // rows — skip the join, keep the self-message union (labels is
        // the materialized init, needed as the convergence prev anyway)
        if (it == 1 && initLabels.isEmpty)
          edges.select(col("src").as("id"), col("dst").as("label"))
            .union(labels.select(col("id"), col("label")))
            .groupBy("id").agg(min(col("label")).as("label"))
        else superstep(edges, labels)
      }
    }
    // Early-stop/plateau heuristics are for LP's noisy community curve; CC
    // is monotone so only the exact changes==0 rule applies.
    // With no warm start the init is the identity labeling: iteration 1's
    // convergence scalars fold to the join-free `label != id` aggregate,
    // and on the plain (no-skew) path the first superstep references init
    // exactly once (the self-message union), so the setup persist+count
    // job is skipped and init is computed inside iteration 1's job.
    val coldIdentity = initLabels.isEmpty
    try Superstep.run("cc", init, step, nNodes,
      earlyStop = false, plateau = false,
      checkpointer = checkpointer, checkpointEvery = checkpointEvery,
      maxIter = maxIter,
      identityInit = coldIdentity,
      materializeInit = !(coldIdentity && derivedPlan.isEmpty))
    finally derivedPlan.foreach(GraphOps.unpersistSkew)
  }
}
