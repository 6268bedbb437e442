package graft.algo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.{Materialize, Superstep}
import graft.graph.GraphOps

/** PageRank over the edge table (north_rule algorithm; absent from the
  * reference — SURVEY.md §2.8). Standard damped power iteration:
  *
  *   rank'(v) = (1-d)/N + d * ( Σ_{u→v} rank(u)/outdeg(u) + D/N )
  *
  * where D is the total rank mass of dangling (zero-out-degree) vertices,
  * redistributed uniformly so the ranks stay a probability distribution.
  * Convergence: L∞(rank' − rank) < eps, or a fixed iteration count.
  *
  * Scale shape: `edges ⋈ outdeg` is joined ONCE and persisted (each edge
  * carries its source's out-degree), so a superstep is one join against
  * the small rank table plus one partial-aggregated groupBy(dst) — the
  * same two-shuffle skeleton as LP, with the same skew remedy available.
  */
object PageRank {

  final case class Result(ranks: DataFrame, iterations: Int, converged: Boolean,
                          l1History: Seq[Double])

  /** Rank-state side of the per-iteration `edges ⋈ ranks` join, pinned to
    * a shuffled-hash build (guide §3.1). Left to size estimates, the
    * iterative rank table has no stats and the planner falls back to
    * sort-merge — which re-SORTS the (persisted, unchanging) edge table
    * every iteration; profiled on the r6 bench graph the 10-iteration run
    * planned SMJ on [src]≡[id] each round. The per-partition rank slice is
    * vertex-state-sized at ANY scale (|V|/partitions rows of 16 bytes), so
    * hashing it is always safe, while broadcasting would not survive 10^12
    * vertices — shuffled-hash is the scale-correct strategy, and AQE skew
    * splitting still applies to the streamed edge side.
    */
  private def stateSide(ranks: DataFrame): DataFrame = ranks.hint("shuffle_hash")

  /** Setup shared by the power iterations: the vertex table, the
    * out-degree table, the edges carrying their source's out-degree
    * (src-partitioned, persisted) and the dangling (zero-out-degree)
    * vertices, persisted on first use. Launches no action — each caller
    * counts what it reads.
    *
    * @param symmetric the src column alone covers every endpoint, so the
    *        persisted out-degree table's key set IS the vertex set — one
    *        aggregation serves |V|, the init ranks AND the edge decoration
    *        (guide §2.4: two operations keyed the same way share one
    *        pass). A symmetrized graph has no dangling vertices.
    * @param weighted edges carry `weight`, and the degree is the integral
    *        out-weight `wout` instead of the edge count `outdeg`
    * @param keepDeg persist the degree table (read again after the loop)
    */
  private final class Setup(edges: DataFrame, partitions: Int,
                            symmetric: Boolean = false,
                            weighted: Boolean = false,
                            keepDeg: Boolean = false) {
    // the entries this setup registered: a table whose plan an earlier
    // caller already cached shares that caller's entry and stays theirs
    private val owned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private def keep(df: DataFrame): DataFrame = {
      if (df.storageLevel == StorageLevel.NONE) owned += df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }

    val outDeg: DataFrame = {
      val d = edges.groupBy(col("src").as("id")).agg(
        if (weighted) sum(col("weight")).cast("long").as("wout")
        else count(lit(1)).as("outdeg"))
      if (symmetric || keepDeg) keep(d) else d
    }
    val verts: DataFrame =
      if (symmetric) outDeg.select(col("id"))
      else keep(GraphOps.vertices(
          if (weighted) edges.select(col("src"), col("dst")) else edges))
    val edgesDeg: DataFrame = keep(
      edges.join(stateSide(outDeg), edges("src") === outDeg("id"))
        .select(Seq(edges("src"), edges("dst")) ++
          (if (weighted) Seq(edges("weight"), col("wout")) else Seq(col("outdeg"))): _*)
        .repartition(partitions, col("src")))
    lazy val dangling: DataFrame = keep(verts.join(outDeg, Seq("id"), "left_anti"))

    /** Releases the entries this setup registered; call only once nothing
      * lazy reads them.
      */
    def release(): Unit = owned.foreach(_.unpersist(blocking = false))
  }

  /** The fixed-iteration power step of [[runFixed]], [[runFixedWeighted]]
    * and [[runPersonalizedFixed]]: the dangling mass (a driver action,
    * only when danglers exist), one gather join of `contrib` per edge and
    * one hash aggregation per destination into `s`, then `update(dMass)`
    * over `attach(sums)`. Danglers make the mass sum a second read of the
    * ranks, so the chain materializes every step; without them the whole
    * run chains lazily.
    */
  private def powerFixed(setup: Setup, init: DataFrame, iterations: Int,
                         hasDangling: Boolean, contrib: Column,
                         attach: DataFrame => DataFrame)(
                         update: Double => Column): DataFrame =
    Superstep.fixed(init, iterations, readsPrevOnce = !hasDangling) { (ranks, _) =>
      import setup.{dangling, edgesDeg}
      val dMass =
        if (hasDangling)
          dangling.join(ranks, "id").agg(sum("rank")).first().getDouble(0)
        else 0.0
      val sums = edgesDeg
        .join(stateSide(ranks), edgesDeg("src") === ranks("id"))
        .select(edgesDeg("dst").as("id"), contrib.as("c"))
        .groupBy("id").agg(sum("c").as("s"))
      attach(sums).select(col("id"), update(dMass).as("rank"))
    }

  /** Uniform-teleport update: (1−d)/N + d·(s + D/N). */
  private def uniformUpdate(damping: Double, n: Long)(dMass: Double): Column =
    lit((1.0 - damping) / n) +
      lit(damping) * (coalesce(col("s"), lit(0.0)) + lit(dMass / n))

  /** @param autoSkew derive an OUT-degree hot-vertex threshold
    *        ([[GraphOps.planSkewAuto]] keyed on `src` — PageRank's
    *        per-iteration join keys on the rank SOURCE, so the skewed key
    *        is out-degree, unlike LP/CC's in-degree gather; on a
    *        symmetrized graph the two coincide) and, when a hot set
    *        exists, route hot-source edges through a broadcast of the hot
    *        vertices' ranks with the hot slice spread by dst. The dst
    *        aggregation needs no skew defense: partial (map-side)
    *        aggregation compresses any in-degree hot spot to one row per
    *        partition.
    * @param checkpointer when set, every `checkpointEvery`-th iteration's
    *        ranks go to a durable snapshot (rank carried in the shared
    *        `label` column; lineage + metrics alongside — the north-rule
    *        resume contract LP/CC already honor, metrics `changes` = the
    *        L∞ delta ×1e15 as an exact long since ranks are < 1)
    * @param initRanks resume point (id, rank) — pair with `startIter` from
    *        `Checkpointer.validatedLatest("pagerank")`; `maxIter` stays a
    *        TOTAL-run cap, so interrupt+resume never runs more iterations
    *        than a straight run with the same cap
    */
  def run(
      edges: DataFrame,
      damping: Double = 0.85,
      eps: Double = 1e-10,
      maxIter: Int = 100,
      partitions: Int = 32,
      autoSkew: Boolean = true,
      checkpointer: Option[graft.engine.Checkpointer] = None,
      checkpointEvery: Int = 5,
      initRanks: Option[DataFrame] = None,
      startIter: Int = 0,
      priorMetrics: Seq[graft.model.SuperstepMetrics] = Nil): Result = {
    val setup = new Setup(edges, partitions)
    import setup.{dangling, edgesDeg, verts}
    val n = verts.count()
    edgesDeg.count()
    val hasDangling = dangling.count() > 0L
    val skewPlan =
      if (autoSkew) GraphOps.planSkewAuto(edgesDeg, partitions, key = "src")
      else None

    // the rank rides the `label` column inside the loop: it is the column
    // the durable snapshots (and their resume readers) carry
    val init = initRanks
      .map(_.select(col("id"), col("rank").as("label")))
      .getOrElse(verts.select(col("id"), lit(1.0 / n).as("label")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    init.count()

    val hist = scala.collection.mutable.ArrayBuffer.empty[Double]
    val res = Superstep.converge("pagerank", init, maxIter, checkpointer,
        checkpointEvery, startIter, priorMetrics) { (prev, _) =>
      val ranks = prev.select(col("id"), col("label").as("rank"))
      val dMass =
        if (hasDangling)
          dangling.join(ranks, "id").agg(sum("rank")).first().getDouble(0)
        else 0.0
      val contribs = skewPlan match {
        case Some(p) =>
          val hotRanks = ranks.join(broadcast(p.hotIds), Seq("id"), "left_semi")
          p.coldEdges.join(stateSide(ranks), p.coldEdges("src") === ranks("id"))
            .select(p.coldEdges("dst").as("id"),
              (col("rank") / col("outdeg")).as("c"))
            .union(p.hotEdges
              .join(broadcast(hotRanks), p.hotEdges("src") === hotRanks("id"))
              .select(p.hotEdges("dst").as("id"),
                (hotRanks("rank") / p.hotEdges("outdeg")).as("c")))
        case None =>
          edgesDeg
            .join(stateSide(ranks), edgesDeg("src") === ranks("id"))
            .select(edgesDeg("dst").as("id"), (col("rank") / col("outdeg")).as("c"))
      }
      val sums = contribs.groupBy("id").agg(sum("c").as("s"))
      verts.join(sums, Seq("id"), "left")
        .select(col("id"),
          (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("s"), lit(0.0)) + lit(dMass / n)))
            .as("label"))
    }((next, prev, _) =>
      next.join(prev.withColumnRenamed("label", "prev").hint("shuffle_hash"), "id")
        .agg(max(abs(col("label") - col("prev")))),
      (_, row) => {
        val delta = row.getDouble(0)
        hist += delta
        Superstep.Verdict(math.round(delta * 1e15), 0L, delta < eps)
      })
    // the final round is always a snapshot, cadence round or not
    val last = checkpointer match {
      case Some(cp) if res.iterations > startIter && res.iterations % checkpointEvery != 0 =>
        cp.checkpoint("pagerank", res.iterations, res.labels)
      case _ => res.labels
    }
    if (res.labels ne init) init.unpersist(blocking = false)
    skewPlan.foreach(GraphOps.unpersistSkew)
    setup.release()
    Result(last.select(col("id"), col("label").as("rank")), res.iterations,
      res.converged, hist.toSeq)
  }

  /** Fixed-iteration variant (no convergence actions between steps) —
    * used by the oracle-checked query and the benchmark, where the
    * iteration count must be identical across engines/parallelism levels.
    *
    * @param symmetric caller guarantees the edge table is symmetrized, so
    *        every vertex has BOTH in-edges (the per-iteration keep-alive
    *        left join against the vertex table is skipped — one fewer
    *        vertex-sized shuffle join per iteration) and out-edges (no
    *        dangling mass; the setup dangling scan is skipped too). Rank
    *        values are identical — the skipped join only re-attaches
    *        vertices that receive no contributions, which cannot exist
    *        on a symmetrized graph.
    */
  def runFixed(edges: DataFrame, iterations: Int, damping: Double = 0.85,
               partitions: Int = 32, symmetric: Boolean = false): DataFrame = {
    val setup = new Setup(edges, partitions, symmetric = symmetric)
    import setup.{dangling, verts}
    val n = verts.count()
    val hasDangling = !symmetric && dangling.count() > 0L
    val attach: DataFrame => DataFrame =
      if (symmetric) identity else verts.join(_, Seq("id"), "left")
    powerFixed(setup, verts.select(col("id"), lit(1.0 / n).as("rank")), iterations,
      hasDangling, col("rank") / col("outdeg"), attach)(uniformUpdate(damping, n))
  }

  /** Weighted PageRank, fixed iterations — the rank a vertex passes along
    * an edge is proportional to the edge's weight share of its total
    * out-weight (the natural ranking over a link graph whose edges carry
    * multiplicities or costs; completes the engine's weighted family next
    * to weighted LP, weighted modularity, and weighted SSSP):
    *
    *   rank'(v) = (1−d)/N + d·( Σ_{u→v} rank(u)·w(u,v)/wout(u) + D/N )
    *
    * Same two-shuffle skeleton as [[runFixed]]; each edge carries its
    * source's out-weight after a single setup join.
    */
  def runFixedWeighted(weightedEdges: DataFrame, iterations: Int,
                       damping: Double = 0.85,
                       partitions: Int = 32): DataFrame = {
    val setup = new Setup(weightedEdges, partitions, weighted = true)
    import setup.{dangling, verts}
    val n = verts.count()
    val hasDangling = dangling.count() > 0L
    powerFixed(setup, verts.select(col("id"), lit(1.0 / n).as("rank")), iterations,
      hasDangling, col("rank") * col("weight") / col("wout"),
      verts.join(_, Seq("id"), "left"))(uniformUpdate(damping, n))
  }

  /** Personalized PageRank, fixed iterations: the teleport mass returns to
    * the `sources` set (uniformly) instead of to all vertices — the
    * related-pages / topic-sensitive ranking primitive:
    *
    *   rank'(v) = (1−d)·reset(v) + d·( Σ_{u→v} rank(u)/outdeg(u)
    *                                   + D·reset(v) )
    *
    * with reset(v) = 1/|S| for v ∈ S, 0 otherwise, and D the dangling
    * mass. Same two-shuffle skeleton as [[runFixed]]; the reset vector is
    * a broadcast-able join against the (small, sampled) source set.
    */
  def runPersonalizedFixed(edges: DataFrame, sources: DataFrame,
                           iterations: Int, damping: Double = 0.85,
                           partitions: Int = 32): DataFrame = {
    val setup = new Setup(edges, partitions)
    val hasDangling = setup.dangling.count() > 0L

    val nS = sources.count()
    // reset(v): 1/|S| on the source set — carried as a column on the
    // vertex table so every iteration is reset-aware without re-joining
    val reset = setup.verts
      .join(sources.select(col("id"), lit(1.0 / nS).as("reset")), Seq("id"), "left")
      .select(col("id"), coalesce(col("reset"), lit(0.0)).as("reset"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    reset.count()

    powerFixed(setup, reset.select(col("id"), col("reset").as("rank")), iterations,
      hasDangling, col("rank") / col("outdeg"), reset.join(_, Seq("id"), "left")) {
      dMass =>
        (lit(1.0 - damping) + lit(damping) * lit(dMass)) * col("reset") +
          lit(damping) * coalesce(col("s"), lit(0.0))
    }
  }

  /** Batch topic-sensitive PageRank (Haveliwala, WWW 2002): k
    * personalization vectors computed in ONE edge-scan loop. Ranks live in
    * LONG format (topic, id, rank), so every iteration is the same
    * edge-join + hash aggregation as single-vector PPR keyed by
    * (topic, dst) — the shuffle count is independent of k, where k
    * separate [[runPersonalizedFixed]] runs would scan the edge table
    * k times per iteration. This is how a production ranking stack
    * maintains its topic portfolio at 100 TB: amortize the edge scan
    * across all vectors.
    *
    * Per-topic dangling mass is handled IN-PLAN (a topic-count-sized
    * aggregate broadcast back into the update), never a driver collect.
    *
    * @param topicSeeds (topic, id) seed memberships; reset(t, v) = 1/|S_t|
    * @return (topic, id, rank) for every (topic, vertex) pair
    */
  def runTopicsFixed(edges: DataFrame, topicSeeds: DataFrame,
                     iterations: Int, damping: Double = 0.85,
                     partitions: Int = 32): DataFrame = {
    val setup = new Setup(edges, partitions)
    import setup.{dangling, edgesDeg, verts}
    val hasDangling = dangling.count() > 0L

    val sizes = topicSeeds.groupBy("topic").agg(count(lit(1)).as("ns"))
    // reset(t, v) carried as a column on the (topic × vertex) state table
    val reset = sizes.select(col("topic"), col("ns")).crossJoin(verts)
      .join(topicSeeds.select(col("topic").as("st"), col("id").as("sid"),
          lit(1).as("isSeed")),
        col("topic") === col("st") && col("id") === col("sid"), "left")
      .select(col("topic"), col("id"),
        when(col("isSeed").isNotNull, lit(1.0) / col("ns"))
          .otherwise(lit(0.0)).as("reset"))
      .transform(Materialize.eager)

    // read twice per step when danglers exist (dangling probe + contribs)
    val ranks = Superstep.fixed(
        reset.select(col("topic"), col("id"), col("reset").as("rank")),
        iterations, readsPrevOnce = false) { (ranks, _) =>
      // per-topic dangling mass, broadcast back in-plan (k rows)
      val dMass =
        if (!hasDangling) null
        else ranks.join(dangling, Seq("id"), "left_semi")
          .groupBy(col("topic").as("dt")).agg(sum("rank").as("dmass"))
      val contribs = edgesDeg
        .join(stateSide(ranks.select(col("topic"), col("id").as("rid"),
          col("rank"))), edgesDeg("src") === col("rid"))
        .select(col("topic"), edgesDeg("dst").as("id"),
          (col("rank") / col("outdeg")).as("c"))
      val sums = contribs.groupBy("topic", "id").agg(sum("c").as("s"))
      val next = reset.join(sums, Seq("topic", "id"), "left")
      if (hasDangling)
        next.join(broadcast(dMass), col("topic") === col("dt"), "left")
          .select(col("topic"), col("id"),
            ((lit(1.0 - damping) +
              lit(damping) * coalesce(col("dmass"), lit(0.0))) * col("reset") +
              lit(damping) * coalesce(col("s"), lit(0.0))).as("rank"))
      else
        next.select(col("topic"), col("id"),
          (lit(1.0 - damping) * col("reset") +
            lit(damping) * coalesce(col("s"), lit(0.0))).as("rank"))
    }
    setup.release()
    ranks
  }

  /** Spam-mass estimate (Gyöngyi–Berkhin–Garcia-Molina–Pedersen "Link
    * Spam Detection Based on Mass Estimation"): how much of a page's
    * PageRank is NOT explainable by a trusted seed set.
    *
    *   trust(v)     = personalized PageRank w.r.t. the trusted set
    *   spam_mass(v) = rank(v) − trust(v)            (absolute)
    *   rel_mass(v)  = (rank(v) − trust(v)) / rank(v) (relative, the
    *                  paper's thresholded detector statistic)
    *
    * Pure composition of [[runFixed]] and [[runPersonalizedFixed]] on the
    * same damping/iteration schedule plus one vertex-sized equi-join —
    * no new iteration machinery, which is exactly the point: at 100 TB
    * the two rank vectors are computed once each and the detector is a
    * single co-partitioned join. rank(v) ≥ (1−d)/N > 0 for every vertex,
    * so the relative form never divides by zero.
    *
    * @return (id, rank, trust, spam_mass, rel_mass)
    */
  def spamMass(edges: DataFrame, trusted: DataFrame, iterations: Int,
               damping: Double = 0.85, partitions: Int = 32,
               symmetric: Boolean = false): DataFrame = {
    val pr = runFixed(edges, iterations, damping, partitions, symmetric)
    val tr = runPersonalizedFixed(edges, trusted, iterations, damping, partitions)
      .select(col("id").as("tid"), col("rank").as("trust"))
    pr.join(tr, pr("id") === col("tid"))
      .select(col("id"), col("rank"), col("trust"),
        (col("rank") - col("trust")).as("spam_mass"),
        ((col("rank") - col("trust")) / col("rank")).as("rel_mass"))
  }

  /** Anti-TrustRank (Krishnan & Raj): personalized PageRank from a
    * KNOWN-SPAM seed set propagated along REVERSED links — a page that
    * links into the spam neighborhood inherits anti-trust, so high
    * scores flag likely spam even off the seed list. The complement of
    * [[spamMass]]: spam mass asks "how little trust reaches this page?",
    * anti-trust asks "how strongly does this page feed spam?"; crawlers
    * run both and demote the intersection.
    *
    * Implementation is one edge transposition (a projection — no
    * shuffle; the PPR repartitions by its own gather key anyway) feeding
    * [[runPersonalizedFixed]] unchanged, so the scale shape is the PPR
    * one: degree table persisted once, per-iteration gather join + hash
    * agg, seed reset carried as a vertex column. Directed inputs only —
    * on a symmetrized graph transposition is the identity and anti-trust
    * degenerates to trusted-set PPR.
    *
    * @return (id, antitrust) with Σ antitrust ≈ 1 (exactly 1 once the
    *         reversed graph has no dangling vertices)
    */
  def antiTrust(edges: DataFrame, spamSeeds: DataFrame, iterations: Int,
                damping: Double = 0.85, partitions: Int = 32): DataFrame = {
    val reversed = edges.select(col("dst").as("src"), col("src").as("dst"))
    runPersonalizedFixed(reversed, spamSeeds, iterations, damping, partitions)
      .select(col("id"), col("rank").as("antitrust"))
  }

  /** OPIC — On-line Page Importance Computation (Abiteboul–Preda–Cobena,
    * WWW'03), the crawl-ordering importance estimate computed WHILE
    * crawling: every page holds cash, each step distributes its cash
    * equally over its outlinks (dangling pages hand theirs to everyone —
    * the paper's virtual root collapsed uniformly), and accumulated
    * history ≈ importance long before a PageRank run would converge.
    * Deterministic synchronous form, one step per superstep:
    *
    *   cash_k(v) = Σ_{u→v} cash_{k−1}(u)/od(u) + D_{k−1}/n
    *   hist_k(v) = hist_{k−1}(v) + cash_k(v),   cash_0 = hist_0 = 1/n
    *
    * Un-damped (total cash is conserved at exactly 1 per step) — the
    * frontier-prioritization signal next to [[runFixed]]'s damped ranks;
    * unlike Katz/eigenvector walk counts the dangling mass is refolded,
    * so the score is a probability at every step.
    *
    * Scale shape is [[runFixed]]'s: degree-decorated edges persisted
    * once, per-step one gather join + hash agg; (cash, hist) ride one
    * vertex-sized state table, eagerly truncated per step because it is
    * referenced three times (dangling sum, gather, history add).
    *
    * @return (id, cash_e6, hist_e6) after `iterations` steps
    */
  def opicFixed(edges: DataFrame, iterations: Int,
                partitions: Int = 32): DataFrame = {
    val setup = new Setup(edges, partitions)
    import setup.{dangling, edgesDeg, verts}
    val n = verts.count()
    val hasDangling = dangling.count() > 0L

    val init = verts
      .select(col("id"), lit(1.0 / n).as("cash"), lit(1.0 / n).as("hist"))
      .transform(Materialize.eager)
    val out = Superstep.fixed(init, iterations, readsPrevOnce = false) { (st, _) =>
      val dMass =
        if (hasDangling)
          dangling.join(st, "id").agg(sum("cash")).first().getDouble(0)
        else 0.0
      val contribs = edgesDeg
        .join(st, edgesDeg("src") === st("id"))
        .select(edgesDeg("dst").as("id"), (col("cash") / col("outdeg")).as("c"))
      val sums = contribs.groupBy("id").agg(sum("c").as("s"))
      st.select(col("id"), col("hist"))
        .join(sums, Seq("id"), "left")
        .select(col("id"),
          (coalesce(col("s"), lit(0.0)) + lit(dMass / n)).as("cash"),
          col("hist"))
        .select(col("id"), col("cash"), (col("hist") + col("cash")).as("hist"))
    }
    setup.release()
    out
  }

  /** SybilRank (Cao et al., NSDI 2012) — degree-normalized trust
    * propagation from a verified seed set, the fake-region detector for
    * social/web graphs. Early-terminated power iteration WITHOUT
    * teleport:
    *
    *   trust_k(v) = Σ_{u~v} trust_{k−1}(u) / deg(u)
    *
    * seeded with 1/|S| on the seeds and ranked by the degree-normalized
    * score trust/deg. Run O(log n) steps — BEFORE mixing: the honest
    * region (where the seeds live) reaches near-stationary trust while
    * the sybil region, attached through a sparse attack cut, has
    * received almost none; at stationarity the signal would vanish
    * (trust ∝ deg), which is why the iteration count is a feature, not a
    * convergence knob.
    *
    * Scale shape is [[runFixed]]'s per-iteration gather: degree-decorated
    * edges persisted once and src-partitioned, one join + one hash agg
    * per step, vertex-sized state. No dangling handling — intended for
    * the symmetrized graph (every vertex has deg ≥ 1 there); on a
    * directed input trust leaks at sinks and the caller should
    * symmetrize first (the paper's setting is undirected).
    *
    * @param seeds (id) verified-honest vertices
    * @return (id, trust, score) — score = trust/deg, the ranking key
    *         (ascending score = most suspicious)
    */
  def sybilRankFixed(edges: DataFrame, seeds: DataFrame, iterations: Int,
                     partitions: Int = 32): DataFrame = {
    val setup = new Setup(edges, partitions, keepDeg = true)
    import setup.{edgesDeg, outDeg, verts}
    val nS = seeds.count()
    require(nS > 0, "SybilRank needs a non-empty seed set")

    val init = verts
      .join(seeds.select(col("id"), lit(1.0 / nS).as("t")), Seq("id"), "left")
      .select(col("id"), coalesce(col("t"), lit(0.0)).as("trust"))
      .transform(Materialize.eager)
    val trust = Superstep.fixed(init, iterations, readsPrevOnce = false) { (trust, _) =>
      val sums = edgesDeg
        .join(trust, edgesDeg("src") === trust("id"))
        .select(edgesDeg("dst").as("id"),
          (col("trust") / col("outdeg")).as("c"))
        .groupBy("id").agg(sum("c").as("s"))
      verts.join(sums, Seq("id"), "left")
        .select(col("id"), coalesce(col("s"), lit(0.0)).as("trust"))
    }
    val res = trust.join(outDeg, Seq("id"), "left")
      .select(col("id"), col("trust"),
        (col("trust") / coalesce(col("outdeg"), lit(1L))).as("score"))
      .localCheckpoint(eager = true)
    edgesDeg.unpersist(blocking = false)
    outDeg.unpersist(blocking = false)
    verts.unpersist(blocking = false)
    res
  }
}
