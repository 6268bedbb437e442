package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{Checkpointer, Superstep}
import graft.graph.GraphOps

/** Synchronous (Jacobi) label propagation — the engine's ground-truth mode
  * (SURVEY.md §2.3; reference `labelPropagationSequential(sync=true)`,
  * `algorithms.h:373-473`, and the V2 dataflow pipeline
  * `algorithms.h:1084-1296`).
  *
  * Per-vertex update rule (reference `getMaximumLabel`,
  * `algorithms.h:263-334`): gather the labels of all out-neighbors, count
  * occurrences per label, and take a label of maximum count. The reference
  * breaks ties uniformly at random (`algorithms.h:327`, `kernels.h:382`),
  * which makes its own runs irreproducible (its published seq/par goldens
  * disagree); per BASELINE.json determinism we pin the tie-break to the
  * MINIMUM label among the maxima. Vertices with no in-edges keep their
  * label (the reference's zero-degree CSR rows behave the same,
  * `algorithms.h:283-285`).
  *
  * Relational shape of one superstep — literally the reference's V2 CUDA
  * pipeline (SURVEY.md §2.4) expressed in Catalyst:
  *   gather  = inner equi-join  edges ⋈_{dst=id} labels   (lp_gather)
  *   count   = groupBy(src,label).count                    (sort+scan+W)
  *   argmax  = groupBy(src).max_by(label,(cnt,-label))     (lp_reduce)
  * Catalyst's partial+final hash aggregation is the two-level segmented
  * reduce of `reduce.h:360-476`, for free.
  *
  * Scale: edges arrive dst-partitioned and persisted (no per-iteration
  * edge shuffle); `groupBy(src,label)` partial-aggregates map-side, so the
  * per-superstep shuffle volume is the number of distinct (vertex,
  * neighbor-label) pairs, not the edge count. Hot-vertex skew is removed
  * by routing high-in-degree vertices through a broadcast gather
  * ([[GraphOps.planSkew]]).
  */
object LabelPropagation {

  /** One synchronous superstep: returns the new (id, label) table.
    * Vertices receiving no messages are left at their previous label.
    *
    * @param symmetric caller guarantees the edge table is symmetrized, so
    *        every vertex has in-edges and the winners table covers all
    *        vertices — the keep-previous fallback join (one join + one
    *        exchange per superstep) is skipped. Zero-degree vertices never
    *        enter the vertex set (vertices are defined by edge endpoints),
    *        matching the reference's zero-degree CSR rows keeping their
    *        initial label (`algorithms.h:283-285`).
    */
  /** Bit budget of the packed argmax: labels in the low 40 bits
    * (ids < 2^40 ≈ 1.1e12 — the 10^12-document ceiling), counts in the
    * next 23 (per-label neighbor counts < 8.4M). Outside that envelope
    * [[run]] selects the unpacked hash-argmax path automatically.
    */
  val PackLabelBits = 40
  private val LabelMask = (1L << PackLabelBits) - 1

  /** Packed-argmax eligibility: every vertex id (= every possible label)
    * must fit 40 bits and every per-label neighbor count (bounded by max
    * in-degree) must fit 23 bits; an empty edge table fits. One
    * aggregation job ([[GraphOps.degreeProfile]]). Every public entry
    * point consults this (or an explicit caller override) — outside the
    * budget `LabelMask - label` goes negative and the packed max would
    * elect wrong winners silently.
    */
  def packedBudgetOk(edges: DataFrame): Boolean =
    GraphOps.degreeProfile(edges).forall(packedFits)

  private def packedFits(p: GraphOps.DegreeProfile): Boolean =
    p.maxId < (1L << PackLabelBits) && p.maxDegree < (1L << 23)

  private def resolvePacked(edges: DataFrame, packed: Option[Boolean]): Boolean =
    packed.getOrElse(packedBudgetOk(edges))

  /** Weighted-path eligibility: the packed argmax compares per-(vertex,
    * label) WEIGHT SUMS, so the count budget must bound the largest
    * possible per-label weight sum — conservatively, the per-vertex total
    * incident weight (gather groups by src) — not the raw degree. One
    * aggregation job, mirroring [[packedBudgetOk]].
    */
  def packedBudgetOkWeighted(edges: DataFrame): Boolean = {
    val row = edges.groupBy(col("src"))
      .agg(sum(col("weight")).cast("long").as("wsum"), max(col("dst")).as("maxDst"))
      .agg(max(col("wsum")).as("maxW"),
        max(greatest(col("src"), col("maxDst"))).as("maxId"))
      .first()
    row.getLong(1) < (1L << PackLabelBits) && row.getLong(0) < (1L << 23)
  }

  /** @param tieBreakSeed None = pinned MINIMUM label among the maxima (the
    *        engine's oracle-checked default). Some(seed) = deterministic
    *        HASHED tie-break: among max-count labels pick the one
    *        minimizing xxhash64(id, label, seed) — an unbiased,
    *        reproducible stand-in for the reference's `rand()` tie-break
    *        (`algorithms.h:327`). The min-label pin is biased toward
    *        low-label flooding, which on tie-heavy small graphs (karate)
    *        collapses communities the reference's random choice preserves;
    *        hashed mode reproduces the reference's QUALITY envelope while
    *        staying deterministic across runs and parallelism levels.
    *        Vary the seed per iteration (as [[run]] does) or repeated ties
    *        repeat the same choice and can 2-cycle.
    */
  /** @param mapSideCombine true (default) = partial-aggregate the
    *        (id, label) message counts map-side and exchange twice (on
    *        (id,label), then on id): shuffle volume is bounded by distinct
    *        (vertex, neighbor-label) pairs, so a hot vertex's 10^8
    *        messages compress to its label diversity — the skew-robust
    *        plan for power-law graphs. false = repartition RAW messages by
    *        id once, then BOTH aggregation levels run exchange-free
    *        (HashPartitioning(id) satisfies the (id,label) clustering):
    *        one exchange instead of two, measured ~10% faster per
    *        superstep on the bench graph — but the raw shuffle keys by
    *        vertex, so a hot vertex lands on one reducer; use only when
    *        max in-degree is a small fraction of |E| / partitions.
    */
  def superstep(edges: DataFrame, labels: DataFrame,
                symmetric: Boolean = false,
                packedArgmax: Boolean = true,
                tieBreakSeed: Option[Long] = None,
                mapSideCombine: Boolean = true): DataFrame = {
    val msgs = gather(edges, labels)
    val winners = tieBreakSeed match {
      case Some(seed) => argmaxHashed(msgs, seed)
      case None       => argmax(msgs, packedArgmax, mapSideCombine)
    }
    if (symmetric) winners
    else labels.join(winners.withColumnRenamed("label", "newLabel"), Seq("id"), "left")
      .select(col("id"), coalesce(col("newLabel"), col("label")).as("label"))
  }

  /** Hashed tie-break argmax (parity/quality mode): max-count → join-back
    * → min by (hash, label). The struct ordering keeps the result total
    * even under hash collisions. SortAggregate-planned (struct buffer) —
    * acceptable: this mode exists for reference-quality parity runs, the
    * throughput path is the packed argmax.
    */
  private def argmaxHashed(msgs: DataFrame, seed: Long): DataFrame = {
    val counts = msgs.groupBy(col("id"), col("label")).agg(count(lit(1)).as("cnt"))
    val maxes = counts.groupBy(col("id")).agg(max(col("cnt")).as("mx"))
      .select(col("id").as("mid"), col("mx"))
    counts.join(maxes, col("id") === col("mid") && col("cnt") === col("mx"))
      .groupBy(col("id"))
      .agg(min_by(col("label"),
        struct(xxhash64(col("id"), col("label"), lit(seed)), col("label"))).as("label"))
  }

  /** mode-label with deterministic (max count, min label) tie-break.
    *
    * Packed form: one extra hash agg of `max(cnt << 40 | (2^40-1-label))`
    * — a single-long DeclarativeAggregate, so BOTH aggregation levels stay
    * in HashAggregate/whole-stage-codegen. The naive
    * `max_by(label, struct(cnt, -label))` has a struct buffer, which
    * Catalyst can only plan as SortAggregate (a per-superstep sort that
    * measured 3× slower at 24M edges). Unpacked form: max-count →
    * join-back → min-label, also hash-only, for graphs outside the bit
    * budget.
    */
  private def argmax(msgs: DataFrame, packed: Boolean,
                     mapSideCombine: Boolean = true): DataFrame = {
    val pre = if (mapSideCombine) msgs else msgs.repartition(col("id"))
    argmaxFromCounts(
      pre.groupBy(col("id"), col("label")).agg(count(lit(1)).as("cnt")), packed)
  }

  private def argmaxFromCounts(counts: DataFrame, packed: Boolean): DataFrame = {
    if (packed) {
      counts.groupBy(col("id"))
        .agg(max(shiftleft(col("cnt"), PackLabelBits) +
          (lit(LabelMask) - col("label"))).as("p"))
        .select(col("id"),
          (lit(LabelMask) - col("p").bitwiseAND(lit(LabelMask))).as("label"))
    } else {
      val maxes = counts.groupBy(col("id")).agg(max(col("cnt")).as("mx"))
        .select(col("id").as("mid"), col("mx"))
      counts.join(maxes, col("id") === col("mid") && col("cnt") === col("mx"))
        .groupBy(col("id")).agg(min(col("label")).as("label"))
    }
  }

  /** WEIGHTED superstep: the per-vertex rule becomes argmax over the SUM
    * OF INCIDENT EDGE WEIGHTS per label (unweighted = all weights 1). The
    * reference parses and stores Pajek edge costs (`Graph.cu:442-447`) but
    * its LP counts occurrences only; this generalization uses the same
    * packed hash-aggregate argmax, so it costs exactly one extra column in
    * the gather. Weights must be integral; packed eligibility now demands
    * per-vertex weight SUMS inside the 23-bit budget, auto-derived via
    * [[packedBudgetOkWeighted]] when the caller does not assert it —
    * heavy-weight graphs fall back to the unpacked argmax instead of
    * silently electing wrong winners (ADVICE r2).
    *
    * @param edges (src, dst, weight) — weight is the message strength dst
    *        contributes to src's label vote
    */
  def superstepWeighted(edges: DataFrame, labels: DataFrame,
                        symmetric: Boolean = false,
                        packedArgmax: Option[Boolean] = None): DataFrame = {
    val msgs = edges.join(labels.hint("shuffle_hash"),
        edges("dst") === labels("id"))
      .select(edges("src").as("id"), labels("label"), edges("weight"))
    val counts = msgs.groupBy(col("id"), col("label"))
      .agg(sum(col("weight")).cast("long").as("cnt"))
    val winners = argmaxFromCounts(counts,
      packedArgmax.getOrElse(packedBudgetOkWeighted(edges)))
    if (symmetric) winners
    else labels.join(winners.withColumnRenamed("label", "newLabel"), Seq("id"), "left")
      .select(col("id"), coalesce(col("newLabel"), col("label")).as("label"))
  }

  /** Skew-aware superstep: cold edges gather via shuffle join, hot edges
    * (high-in-degree dst) via broadcast of the hot vertices' labels.
    */
  def superstepSkewAware(plan: GraphOps.SkewPlan, labels: DataFrame,
                         packedArgmax: Boolean = true): DataFrame = {
    val hotLabels = labels.join(broadcast(plan.hotIds), Seq("id"), "left_semi")
    val coldMsgs = gather(plan.coldEdges, labels)
    val hotMsgs = plan.hotEdges
      .join(broadcast(hotLabels), plan.hotEdges("dst") === hotLabels("id"))
      .select(plan.hotEdges("src").as("id"), hotLabels("label"))
    val winners = argmax(coldMsgs.union(hotMsgs), packedArgmax)
    labels.join(winners.withColumnRenamed("label", "newLabel"), Seq("id"), "left")
      .select(col("id"), coalesce(col("newLabel"), col("label")).as("label"))
  }

  /** Gather join with the label state pinned to a shuffled-hash build
    * (guide §3.1): without stats the planner falls back to sort-merge and
    * re-SORTS the (persisted, unchanging) edge side every superstep —
    * plan-verified on the 25.6M-slot scaling graph, where all six
    * supersteps planned SMJ on [dst]≡[id]. The per-partition label slice
    * is |V|/partitions rows of 16 bytes at any scale, so the hash build
    * is always safe; broadcast would not survive web-scale vertex counts.
    */
  private def gather(edges: DataFrame, labels: DataFrame): DataFrame =
    edges.join(labels.hint("shuffle_hash"), edges("dst") === labels("id"))
      .select(edges("src").as("id"), labels("label"))

  /** Superstep over the CSR-blocked adjacency form (north_star:
    * "CSR-blocked adjacency partitions"): one row per vertex with its
    * neighbor array ([[GraphOps.csrBlocks]]). The gather explodes blocks
    * back to COO lazily inside the plan — same messages, same argmax —
    * while the stored/persisted representation is the compact blocked one
    * (one row per vertex, array-encoded: smaller cache footprint and
    * per-vertex locality). Equality with the COO superstep is asserted in
    * tests.
    */
  def superstepCsr(blocks: DataFrame, labels: DataFrame,
                   packedArgmax: Option[Boolean] = None): DataFrame = {
    val coo = GraphOps.cooFromCsr(blocks)
    val msgs = coo
      .join(labels, col("dst") === labels("id"))
      .select(col("src").as("id"), labels("label"))
    argmax(msgs, resolvePacked(coo, packedArgmax))
  }

  /** Initial state: every vertex labeled with its own id
    * (`algorithms.h:402-404`).
    */
  def initLabels(vertices: DataFrame): DataFrame =
    vertices.select(col("id"), col("id").as("label"))

  /** Symmetric-mode superstep 1 shortcut: with init labels label(v) = v,
    * the gather's label lookup is the identity — message (src, label(dst))
    * IS the edge row (src, dst) — so the first superstep is the argmax
    * over the edge table directly: no vertex-set distinct, no gather join,
    * no label exchange (guide §2.4, remove the shuffle outright). Only
    * valid in symmetric mode, where the keep-previous fallback (which
    * would need the init labels) is skipped.
    */
  private def firstStepSymmetric(edges: DataFrame, packed: Boolean,
                                 mapSideCombine: Boolean = true): DataFrame =
    argmax(edges.select(col("src").as("id"), col("dst").as("label")),
      packed, mapSideCombine)

  /** Exactly `supersteps` updates, no convergence actions — for
    * oracle-checked fixed-step queries and benchmarks where the step
    * count must be identical across engines and parallelism levels.
    * Symmetric mode reads the previous labels once per superstep (the
    * gather), so the run is one lazy [[Superstep.fixed]] chain; the
    * keep-previous join of non-symmetric mode reads them a second time.
    *
    * @param packedArgmax None = derive from [[packedBudgetOk]] (one extra
    *        aggregation job); Some(b) = caller-asserted eligibility.
    */
  def runFixed(edges: DataFrame, supersteps: Int,
               symmetric: Boolean = false,
               packedArgmax: Option[Boolean] = None): DataFrame = {
    val packed = resolvePacked(edges, packedArgmax)
    Superstep.fixed(fixedInit(edges, supersteps, symmetric), supersteps,
        readsPrevOnce = symmetric) { (labels, i) =>
      if (i == 1 && symmetric) firstStepSymmetric(edges, packed)
      else superstep(edges, labels, symmetric, packed)
    }
  }

  /** Init of the fixed-step runs: the identity labeling, or nothing when
    * the symmetric first superstep reads only the edge table.
    */
  private def fixedInit(edges: DataFrame, supersteps: Int,
                        symmetric: Boolean): DataFrame =
    if (symmetric && supersteps > 0) null
    else initLabels(
      if (symmetric) GraphOps.verticesSymmetric(edges)
      else GraphOps.vertices(edges))

  /** SLPA-style label memory (overlapping communities): the multiset of
    * labels each vertex held across the first `supersteps` synchronous
    * updates — a vertex sitting on a community boundary oscillates
    * between the neighboring labels, and the rounds-held count is its
    * membership strength in each (the speaker–listener LPA reading of
    * the same argmax rule). Output (id, label, n_rounds); callers
    * threshold n_rounds for overlapping memberships. Costs the same
    * superstep chain as [[runFixed]] plus one union-side hash
    * aggregation whose key space is the held (vertex, label) pairs —
    * bounded by supersteps · |V|.
    */
  def labelMemory(edges: DataFrame, supersteps: Int,
                  symmetric: Boolean = false,
                  packedArgmax: Option[Boolean] = None): DataFrame = {
    val packed = resolvePacked(edges, packedArgmax)
    // each step's labels are read twice (next superstep + the history
    // union); step i receives the materialized labels of step i-1
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val last = Superstep.fixed(fixedInit(edges, supersteps, symmetric), supersteps,
        readsPrevOnce = false) { (labels, i) =>
      if (i > 1) held += labels
      if (i == 1 && symmetric) firstStepSymmetric(edges, packed)
      else superstep(edges, labels, symmetric, packed)
    }
    (held :+ last).map(_.select(col("id"), col("label"))).reduce(_ union _)
      .groupBy("id", "label").agg(count(lit(1)).as("n_rounds"))
  }

  /** Seed-constrained (semi-supervised) label propagation — the
    * TrustRank-style spreading primitive: seed vertices carry fixed
    * labels, every other vertex starts UNLABELED (null) and per superstep
    * adopts the argmax label among its LABELED neighbors (count DESC,
    * label ASC — the engine's pinned tie-break); vertices with no labeled
    * neighbor stay unlabeled, seeds never change. After k supersteps the
    * label frontier has advanced k hops, so unreached vertices keep null.
    *
    * Plan: the gather joins only the labeled subset (the frontier's
    * closed neighborhood — cheap in early rounds), the argmax is one
    * groupBy + max(struct(cnt, −label)), and the update is a vertex-sized
    * three-way left join. The state is referenced twice per superstep
    * (gather + fallback), so each round eagerly truncates — the
    * Gauss–Seidel rule, not the Jacobi one.
    */
  def runSeededFixed(edges: DataFrame, seeds: DataFrame,
                     supersteps: Int): DataFrame = {
    val verts = GraphOps.vertices(edges)
    val seedTag = seeds.select(col("id"), lit(1L).as("is_seed"))
    val init = verts
      .join(seeds.select(col("id"), col("label")), Seq("id"), "left")
      .select(col("id"), col("label"))
      .transform(graft.engine.Materialize.eager(_).state)
    Superstep.fixed(init, supersteps, readsPrevOnce = false) { (labels, _) =>
      val msgs = edges.join(labels.filter(col("label").isNotNull),
          edges("dst") === col("id"))
        .select(edges("src").as("id"), col("label"))
      val counts = msgs.groupBy("id", "label").agg(count(lit(1)).as("cnt"))
      val best = counts.groupBy("id")
        .agg(max(struct(col("cnt"), (lit(0L) - col("label")).as("nl"))).as("m"))
        .select(col("id"), (lit(0L) - col("m.nl")).as("nb"))
      labels
        .join(seedTag, Seq("id"), "left")
        .join(best, Seq("id"), "left")
        .select(col("id"),
          when(col("is_seed").isNotNull, col("label"))
            .otherwise(coalesce(col("nb"), col("label"))).as("label"))
    }
  }

  /** Run to convergence. `edges` should be symmetrized for undirected
    * semantics and pre-partitioned via [[GraphOps.prepareForGather]].
    *
    * Setup is one aggregation job ([[GraphOps.degreeProfile]]) that
    * serves both decisions: the packed-argmax bit budget and, with
    * `autoSkew`, the skew threshold.
    *
    * @param checkpointer durable snapshots every `checkpointEvery`-th
    *        superstep; the run resumes itself from the latest validated
    *        one ([[Checkpointer.resume]]) and continues its numbering,
    *        convergence history and hashed tie-break seeds. `maxIter` is a
    *        TOTAL-run cap, so interrupt + resume never runs more supersteps
    *        than a straight run with the same cap (ADVICE r2). The first
    *        superstep's shortcuts (identity init, no init materialization,
    *        the symmetric gather-free first step) apply only to a fresh
    *        start.
    * @param autoSkew with no explicit `skewPlan`, derive the hot-vertex
    *        threshold from the in-degree distribution (p99.9 with a mean
    *        floor, [[GraphOps.DegreeProfile.skewThreshold]]) and route
    *        supersteps through the broadcast hot/cold split when a hot set
    *        exists — the SURVEY §7.4 default. A near-uniform graph (or one
    *        whose max in-degree is below a reducer's fair share) derives no
    *        plan and runs the plain superstep. Skipped when a hashed
    *        tie-break seed is requested (the skew-aware path is
    *        pinned-tie-break only). Labels are plan-routing-invariant —
    *        gated label-exact against the plain plan (`g_lp_skew_t3` /
    *        `g_lp_autoskew_t3`).
    */
  def run(
      edges: DataFrame,
      nNodes: Long,
      checkpointer: Option[Checkpointer] = None,
      checkpointEvery: Int = 5,
      maxIter: Option[Int] = None,
      skewPlan: Option[GraphOps.SkewPlan] = None,
      earlyStop: Boolean = true,
      symmetric: Boolean = false,
      tieBreakSeed: Option[Long] = None,
      autoSkew: Boolean = true): Superstep.Result = {
    val (start, init, priorMetrics) = checkpointer.flatMap(_.resume("lp"))
      .getOrElse((0, initLabels(
        if (symmetric) GraphOps.verticesSymmetric(edges)
        else GraphOps.vertices(edges)), Nil))
    val parts = edges.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val profile = GraphOps.degreeProfile(edges)
    val packed = profile.forall(packedFits)
    val derivedPlan =
      if (skewPlan.isEmpty && autoSkew && tieBreakSeed.isEmpty)
        profile.flatMap(_.skewThreshold(parts))
          .flatMap(GraphOps.planSkewBy(edges, "dst", _, parts, GraphOps.MaxHotIds))
      else None
    // hashed tie-break re-seeds per iteration (the reference re-draws
    // rand() every call; a fixed per-(id,label) choice can 2-cycle)
    var it = start
    def seedNow(): Option[Long] = { it += 1; tieBreakSeed.map(_ + it) }
    val step: DataFrame => DataFrame = skewPlan.orElse(derivedPlan) match {
      case Some(p) => labels => superstepSkewAware(p, labels, packed)
      case None => labels => {
        val seed = seedNow()
        // superstep 1 from identity init labels: the gather join is a
        // no-op lookup, so skip it (firstStepSymmetric) — pinned
        // tie-break + symmetric only; init stays materialized as the
        // convergence join's prev side
        if (it == 1 && symmetric && seed.isEmpty)
          firstStepSymmetric(edges, packed)
        else superstep(edges, labels, symmetric, packed, seed)
      }
    }
    // a fresh init is the identity labeling, so iteration 1's convergence
    // scalars need no prev-side join (Superstep identityInit); on the
    // plain pinned symmetric path the first superstep reads only the edge
    // table (firstStepSymmetric), so the init table is referenced at most
    // zero times and its setup persist+count job is skipped too.
    val fresh = start == 0
    val plainSymmetric = fresh && symmetric && tieBreakSeed.isEmpty &&
      skewPlan.isEmpty && derivedPlan.isEmpty
    val cap = maxIter.getOrElse(Superstep.maxIterations(nNodes))
    try Superstep.run("lp", init, step, nNodes,
      earlyStop = earlyStop, checkpointer = checkpointer,
      checkpointEvery = checkpointEvery, maxIter = Some(math.max(cap - start, 0)),
      startIter = start, priorMetrics = priorMetrics,
      identityInit = fresh, materializeInit = !plainSymmetric)
    finally derivedPlan.foreach(GraphOps.unpersistSkew) // auto plan is run-scoped
  }
}
