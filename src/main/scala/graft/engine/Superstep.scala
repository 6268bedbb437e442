package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.model.SuperstepMetrics

import scala.collection.mutable.ArrayBuffer

/** The two Pregel-style superstep drivers (SURVEY.md §2.3-2.5):
  * [[Superstep.fixed]] runs a fixed number of steps with no convergence
  * actions, and [[Superstep.converge]] runs rounds until a one-row probe
  * aggregate says stop ([[Superstep.run]] is LP/CC on it).
  *
  * The reference's host loop (`algorithms.h:373-473` sequential,
  * `algorithms.h:650-773` GPU sync) is: snapshot labels → per-node update
  * from the snapshot (Jacobi) → count changes → count communities → apply
  * stopping rules. Here the snapshot is free (the previous Dataset is
  * immutable), the update is a caller-supplied DataFrame transform, and
  * the stopping rules are ported in [[Convergence]].
  *
  * Plan-growth control: iterative DataFrame loops grow the logical plan
  * without bound, so both drivers truncate lineage; the convergence
  * driver's durable checkpoints double as the resumable per-superstep
  * checkpoint demanded by the north_rule.
  */
object Superstep {

  final case class Result(
      labels: DataFrame,
      iterations: Int,
      converged: Boolean,
      metrics: Seq[SuperstepMetrics])

  /** Iteration cap: reference `MAX_ITERATION 500` combined with
    * `min(nNodes, 500)` (`algorithms.h:14,406`).
    */
  def maxIterations(nNodes: Long): Int = math.min(nNodes, 500L).toInt

  /** Eager truncation cadence of a read-once [[fixed]] chain. */
  private val TruncateEvery = 5

  /** Exactly `steps` applications of `step`, with no convergence actions —
    * the fixed-iteration driver of the power-iteration family (PageRank,
    * Katz, walk counts, HITS, SALSA, absorbing walks, fixed-step LP) and
    * of the fixed-round loops that read their state more than once
    * (VoteRank, the LT/IC cascades, WL refinement, label spreading,
    * balanced-LP sharding, DAG path counts, greedy matching, MMR
    * selection, the fixed truss peels). It
    * owns every persist / truncate / release decision; the caller states
    * one fact about its step, `readsPrevOnce`: does the plan of step i+1
    * evaluate the state of step i exactly once (counting references
    * through any intermediate the step reuses)?
    *
    * Read once (`true`) — a lazy chain:
    *   - each step's state gets a LAZY persist (no job). Materializing
    *     every step instead costs one full job per step, measured 5×
    *     slower than the lazy chain on the bench graph;
    *   - after every [[TruncateEvery]]-th step except the last, one eager
    *     `localCheckpoint` bounds plan depth on long runs;
    *   - superseded states pending release are freed only once an eager
    *     truncation has materialized everything downstream of them —
    *     unpersisting a LAZY chain member earlier would force
    *     recomputation. Superseded checkpoint BLOCKS have no cache entry
    *     to free; the ContextCleaner releases them once the wrapper is
    *     unreferenced. (A chain that never frees them keeps one rank
    *     table cached per PageRank iteration, evicting the edge table at
    *     scale.)
    *   - on return, every state above the last truncation except the
    *     final one is released: nothing needs them twice, so the caller
    *     gets one cache entry (the final, lazily persisted state);
    *   - only entries the chain itself registered are released. A step
    *     whose plan an earlier caller already cached (a 3-step run after
    *     a 2-step run on the same edges) shares that entry and leaves it
    *     to its owner; the chain's own states below it are released right
    *     away, since every later step reads the shared entry instead.
    *
    * Read more than once (`false`) — [[Materialize.eager]] after every
    * step: a lazy chain would re-evaluate the shared state once per
    * reference, doubling the plan per step (the Gauss–Seidel 2^n lesson).
    * Each step is materialized and truncated, and no cache entry survives
    * it. The persist inside [[Materialize.eager]] also gives every state
    * its real size as statistics: a bare eager checkpoint copies the
    * plan's size estimate, and a step that joins the state with itself
    * (HITS, SALSA) squares that estimate every step — 3.6 million digits
    * after 18 HITS steps on the 34-vertex karate graph.
    *
    * The initial state is used as given; callers that read it more than
    * once materialize it themselves.
    *
    * @param step (state after step i−1, i) → state after step i, for
    *             i = 1..steps
    */
  def fixed(init: DataFrame, steps: Int, readsPrevOnce: Boolean)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    var state = init
    val pending = ArrayBuffer.empty[DataFrame]
    def release(): Unit = {
      pending.foreach(_.unpersist(blocking = false))
      pending.clear()
    }
    var i = 0
    while (i < steps) {
      i += 1
      val next = step(state, i)
      if (readsPrevOnce) {
        val owned = next.storageLevel == StorageLevel.NONE
        state = next.persist(StorageLevel.MEMORY_AND_DISK)
        if (owned) pending += state else release()
        if (i % TruncateEvery == 0 && i < steps) {
          state = state.localCheckpoint(eager = true)
          release()
        }
      } else state = Materialize.eager(next)
    }
    pending.filterNot(_ eq state).foreach(_.unpersist(blocking = false))
    state
  }

  /** What a convergence caller reads from one round's probe row: the
    * round's metrics scalars and whether to stop.
    */
  final case class Verdict(changes: Long, communities: Long, stop: Boolean)

  /** Rounds until `stop` says so — the convergence driver of every
    * fixpoint whose stability test is one aggregate per round (LP, CC,
    * PageRank to tolerance, the SCC color fixpoint and outer peel, DAG
    * levels, Borůvka's pointer jump, k-core and k-truss peeling, shortest
    * paths, HyperANF, and the frontier BFS loops: `GraphOps.reachableFrom`,
    * `Betweenness.bfsLevels`, Brandes' forward pass and SCC's backward
    * BFS). One round is the
    * reference host loop (`algorithms.h:373-473`): the Jacobi `step` from
    * the previous state, then ONE driver action, the caller's one-row
    * `probe` aggregate — over `next` alone or over `next ⋈ prev` with the
    * prev side hash-built (guide §3.1: a truncated state carries no real
    * statistics, so an unhinted vertex-keyed join plans a sort-merge that
    * re-sorts both sides every round). All monitored scalars come from
    * that one pass, as in LMFAO's batched aggregates.
    *
    * The driver owns every per-round mechanic:
    *   - truncation: a durable [[Checkpointer.checkpoint]] every
    *     `checkpointEvery` rounds when a checkpointer is set (also the
    *     resume point), a LAZY `localCheckpoint` otherwise (an eager
    *     [[Materialize.eager]] under `realStats`). Lazy is safe
    *     because the probe of round i materializes (and truncates) the
    *     state of round i before step i+1 reads it, so a step that reads
    *     its state twice still reads stored blocks. (The lazy
    *     checkpoint is an SQL execution of its own, in which AQE runs the
    *     step's shuffle-map stages; the state's last stage runs inside the
    *     probe's job.) An eager checkpoint followed by a separate
    *     stability action runs that last stage as a job of its own every
    *     round (round 3's LP regression 15.5→26.9 s);
    *   - release of the superseded states it created (a durable
    *     snapshot's re-read is a cache entry). It never releases `init`,
    *     which stays the caller's;
    *   - the round cap `lastRound` and resume numbering: rounds are
    *     numbered from `startIter + 1`, so a resumed run never renumbers
    *     (or overwrites) snapshots it did not write;
    *   - one [[SuperstepMetrics]] record per round, appended to
    *     `priorMetrics` and rewritten to `metrics.json` every round when a
    *     checkpointer is set.
    *
    * Statistics: a lazily truncated state keeps the size ESTIMATE of the
    * plan that produced it, not its real size. A step that joins the
    * state with itself (or with a function of itself) multiplies that
    * estimate by itself every round — the digits double per round, the
    * `BigInteger.multiply` stall [[Materialize]] describes. Such a caller
    * states `realStats`. `StronglyConnected.dagLevels`, Borůvka's pointer
    * jump and `ShortestPaths.run` do join their state with a function of
    * itself; they already compounded the estimate under the bare eager
    * checkpoint they used before, and still do here.
    *
    * A frontier BFS keeps one state, every reached row tagged with its
    * round `dist`: the step expands the rows with `dist == i − 1` along
    * the edges, anti-joins what it finds against the state and returns
    * the state with the new rows (`dist = i`) appended; the probe is
    * [[newRows]]. The loops whose round count the graph's diameter sets
    * (`reachableFrom`, SCC's backward BFS) append with [[appendRows]];
    * `bfsLevels` and Brandes stop at `Betweenness.DepthCap`. Those steps
    * need no `realStats`: the state meets a
    * function of itself only through the anti-join and the union, whose
    * estimates add, so the estimate gains one edge-join factor per round
    * (its digits grow linearly) and never squares.
    *
    * @param realStats true: every round that takes no durable checkpoint
    *                  ends with [[Materialize.eager]] instead of the lazy
    *                  `localCheckpoint`, so the state carries its real
    *                  size, and then runs the probe — for steps that join
    *                  the state with a function of itself (`Truss.kTruss`'s
    *                  triangle legs, HyperANF's gather-and-merge). The
    *                  eager truncation is a job of its own every round
    *                  ahead of the probe's. The durable path is unchanged.
    * @param lastRound the last round number this call may run (a total-run
    *                  cap: a resumed call passes the same value)
    * @param step      (state after round i−1, i) → state after round i
    * @param probe     (next, prev, i) → a one-row aggregate
    * @param stop      (i, probe row) → the round's [[Verdict]]
    * @return the last state, the last round number, and whether `stop`
    *         ended the run (false when `lastRound` did)
    */
  def converge(algorithm: String, init: DataFrame, lastRound: Int,
               checkpointer: Option[Checkpointer] = None,
               checkpointEvery: Int = 5, startIter: Int = 0,
               priorMetrics: Seq[SuperstepMetrics] = Nil,
               realStats: Boolean = false)(
      step: (DataFrame, Int) => DataFrame)(
      probe: (DataFrame, DataFrame, Int) => DataFrame,
      stop: (Int, Row) => Verdict): Result = {
    val metrics = ArrayBuffer.from(priorMetrics)
    var state = init
    var iter = startIter
    var converged = false
    while (iter < lastRound && !converged) {
      val t0 = System.nanoTime()
      iter += 1
      val prev = state
      val next = step(prev, iter)
      state = checkpointer match {
        case Some(cp) if iter % checkpointEvery == 0 => cp.checkpoint(algorithm, iter, next)
        case _ if realStats => Materialize.eager(next)
        case _ => next.localCheckpoint(eager = false)
      }
      val verdict = stop(iter, probe(state, prev, iter).first())
      metrics += SuperstepMetrics(algorithm, iter, verdict.changes,
        verdict.communities, (System.nanoTime() - t0) / 1000000L)
      checkpointer.foreach(_.writeMetrics(algorithm, metrics.toSeq))
      if (prev ne init) prev.unpersist(blocking = false)
      converged = verdict.stop
    }
    Result(state, iter, converged, metrics.toSeq)
  }

  /** Probe for a state keyed by `key`: the number of rows whose `value`
    * differs from the previous round's.
    */
  def changedRows(key: String, value: String)(
      next: DataFrame, prev: DataFrame, iter: Int): DataFrame =
    next.join(prev.withColumnRenamed(value, "prev").hint("shuffle_hash"), key)
      .agg(coalesce(sum(when(col(value) =!= col("prev"), 1L).otherwise(0L)), lit(0L)))

  /** Probe for a frontier state that tags every row with the round that
    * reached it: the number of rows with `dist == iter`, over `next`
    * alone. With [[untilZero]] the run stops on the first round that
    * reaches nothing new.
    */
  def newRows(dist: String)(next: DataFrame, prev: DataFrame, iter: Int): DataFrame =
    next.filter(col(dist) === iter).agg(count(lit(1)))

  /** A frontier state with one round's new rows appended, in at most
    * `spark.sql.shuffle.partitions` partitions. A union keeps the
    * partitions of both sides, so an uncapped state gains the new rows'
    * partitions every round, and every later scan of it (the frontier
    * filter, the anti-join, the probe) runs one task per partition: on a
    * long-diameter graph the tasks per round grow with the round number.
    * The coalesce merges partitions without a shuffle.
    */
  def appendRows(state: DataFrame, found: DataFrame): DataFrame =
    state.union(found)
      .coalesce(state.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)

  /** Stop when the probe's count (column 0) is zero. */
  def untilZero(iter: Int, row: Row): Verdict =
    Verdict(row.getLong(0), 0L, row.getLong(0) == 0L)

  /** Label propagation and connected components on [[converge]]: run
    * `update` until the [[Convergence]] rules stop it.
    *
    * @param initLabels  (id, label) initial state
    * @param update      previous labels → new labels (must return (id, label))
    * @param earlyStop   curve-fit early stop (see [[Convergence]])
    * @param plateau     plateau rule; monotone algorithms (CC) disable it
    * @param checkpointer optional durable per-superstep checkpointing
    * @param maxIter     iterations THIS invocation may run (cap =
    *                    startIter + maxIter); a resuming caller that wants a
    *                    total-run budget must pass the remainder (see
    *                    [[graft.cli.Main]], ADVICE r2)
    * @param startIter   resume offset (see [[converge]]) — pair with
    *                    [[Checkpointer.pruneAbove]] to drop stale post-crash
    *                    snapshots first
    * @param priorMetrics metrics history of the interrupted run up to the
    *                    resume point; re-emitted in metrics.json (no
    *                    history loss) and used to seed the convergence
    *                    rules' community-count history
    * @param identityInit caller asserts `initLabels` maps every vertex to
    *                    itself (label == id). Iteration 1's convergence
    *                    scalars then fold to a join-free aggregate over the
    *                    new labels alone (`label != id` counts the changes;
    *                    next covers exactly the vertex set, the invariant
    *                    every later prev⋈next join already relies on),
    *                    removing the prev-side join of the first superstep
    *                    (guide §2.4). Requires `startIter == 0`: a resumed
    *                    run's init is the resumed labels, not the identity.
    * @param materializeInit false = skip the setup persist+count of the
    *                    init table — correct only when iteration 1's update
    *                    references init AT MOST once (it is then computed
    *                    inside that iteration's single job instead of a
    *                    separate setup action; a twice-referenced lazy init
    *                    would be computed twice). Callers assert this about
    *                    their own update function. Requires `identityInit`:
    *                    otherwise iteration 1's convergence join reads the
    *                    init a second time. The init table may then never
    *                    be evaluated at all (LP's symmetric first superstep
    *                    reads only the edge table).
    */
  def run(
      algorithm: String,
      initLabels: DataFrame,
      update: DataFrame => DataFrame,
      nNodes: Long,
      earlyStop: Boolean = true,
      plateau: Boolean = true,
      checkpointer: Option[Checkpointer] = None,
      checkpointEvery: Int = 5,
      maxIter: Option[Int] = None,
      startIter: Int = 0,
      priorMetrics: Seq[SuperstepMetrics] = Nil,
      identityInit: Boolean = false,
      materializeInit: Boolean = true): Result = {
    require(!identityInit || startIter == 0,
      s"identityInit requires startIter == 0, got startIter=$startIter")
    require(materializeInit || identityInit,
      "materializeInit = false requires identityInit")

    val conv = new Convergence(earlyStop, plateau)
    priorMetrics.foreach(m => conv.seed(m.communities))
    val init =
      if (materializeInit) {
        val l = initLabels.persist(StorageLevel.MEMORY_AND_DISK)
        l.count()
        l
      } else initLabels
    // changed-vertex and community counts in one aggregation (reference
    // `lp_compare_labels`, `kernels.h:719-735`)
    def scalars(changed: Column)(df: DataFrame): DataFrame = df.agg(
      coalesce(sum(when(changed, 1L).otherwise(0L)), lit(0L)).as("chg"),
      countDistinct(col("label")).as("com"))
    val res = converge(algorithm, init,
        startIter + maxIter.getOrElse(maxIterations(nNodes)),
        checkpointer, checkpointEvery, startIter, priorMetrics)(
        (prev, _) => update(prev).select(col("id"), col("label")))(
      (next, prev, iter) =>
        if (identityInit && iter == 1) next.transform(scalars(col("label") =!= col("id")))
        else next.join(prev.withColumnRenamed("label", "labelAnt")
            .hint("shuffle_hash"), "id")
          .transform(scalars(col("label") =!= col("labelAnt"))),
      (iter, row) => {
        val (changes, communities) = (row.getLong(0), row.getLong(1))
        Verdict(changes, communities, conv.shouldStop(iter, changes, communities))
      })
    if (res.labels ne init) init.unpersist(blocking = false)
    res
  }
}

/** Stopping rules, ported from the reference loop heads
  * (`algorithms.h:414,445-464`):
  *   1. changes == 0  (fixed point);
  *   2. plateau — community count unchanged for two consecutive iterations
  *      (`res == 0 && resAnt == 0`, `algorithms.h:457-460`);
  *   3. curve-fit early stop — from t >= 10, fit y = b/x to the
  *      community-count history by gradient descent and stop when
  *      RMSE < 0.4 (`community_measures.cu:282-320`).
  *
  * The curve-fit port fixes two reference bugs (documented in SURVEY.md
  * §2.5): the y-estimate divided by x = 0 at the first point
  * (`get_y_estimation`, `community_measures.cu:243`), and the gradient was
  * overwritten instead of accumulated (`sum =` for `+=`,
  * `community_measures.cu:273`). Intent (fit the 1/x decay of the
  * community-count curve) is preserved.
  */
final class Convergence(earlyStop: Boolean, usePlateau: Boolean = true) {
  private val history = ArrayBuffer.empty[Long] // community count per iter
  private var lastDelta: Option[Long] = None

  /** Preload one community-count observation (resume support): replays the
    * interrupted run's history so plateau/curve-fit behave as if the run
    * had never stopped.
    */
  def seed(communities: Long): Unit = {
    lastDelta = history.lastOption.map(communities - _)
    history += communities
  }

  def shouldStop(iter: Int, changes: Long, communities: Long): Boolean = {
    if (changes == 0L) return true
    val delta: Option[Long] = history.lastOption.map(communities - _)
    history += communities
    val plateau = (delta, lastDelta) match {
      case (Some(0L), Some(0L)) => true
      case _                    => false
    }
    lastDelta = delta
    // The plateau/curve-fit heuristics target LP's noisy community curve
    // (`algorithms.h:457-464`); monotone algorithms (CC) must disable them
    // — their label count can plateau while minima are still propagating.
    if (usePlateau && plateau) return true
    earlyStop && iter >= 10 && curveFitRmse(history.toSeq) < 0.4
  }

  /** Gradient-descent fit of y = b/x (x = iteration, 1-based) to the
    * community-count history; returns ABSOLUTE RMSE, matching the
    * reference's `get_recm` (`community_measures.cu:252-263`) so the
    * 0.4 threshold carries the same meaning: fire only when the curve is
    * essentially exactly b/x (in practice the plateau rule usually fires
    * first, as in the reference). Round 1 shipped a relative-RMSE variant
    * that stopped far earlier than the ported rule implied — reverted to
    * reference semantics per ADVICE r1.
    */
  private[graft] def curveFitRmse(ys: Seq[Long]): Double = {
    val xs = ys.indices.map(i => (i + 1).toDouble) // 1-based: no divide-by-zero
    val yd = ys.map(_.toDouble)
    var b = yd.head // init near the curve's scale
    val lr = 0.1
    var k = 0
    while (k < 200) {
      // d/db sum((b/x - y)^2) = 2 sum((b/x - y)/x) — accumulated (bug fix)
      var g = 0.0
      var i = 0
      while (i < xs.length) { g += 2.0 * (b / xs(i) - yd(i)) / xs(i); i += 1 }
      b -= lr * g / xs.length
      k += 1
    }
    var se = 0.0
    var i = 0
    while (i < xs.length) {
      val e = b / xs(i) - yd(i)
      se += e * e
      i += 1
    }
    math.sqrt(se / xs.length)
  }
}

/** Durable per-superstep checkpoint + metrics + per-partition lineage
  * (north_rule: "every superstep checkpoints per-partition lineage and
  * iteration metrics ... so runs resume mid-convergence").
  *
  * Layout (Parquet stand-in for an Iceberg table — the offline image has
  * no iceberg-spark-runtime jar; this is the `TableIO` seam of SURVEY.md
  * §7.5):
  *   {dir}/{algorithm}/labels/iter={N}/        label snapshot
  *   {dir}/{algorithm}/lineage/iter={N}/       per-partition (count, labelSum)
  *   {dir}/{algorithm}/metrics.json            iteration metrics history
  */
final class Checkpointer(val dir: String, spark: SparkSession) {
  import org.apache.hadoop.fs.{FileSystem, Path}

  // All side-channel I/O (metrics, prune, listing) goes through the
  // session's Hadoop FileSystem so the checkpoint dir can live on HDFS/S3
  // exactly like the label snapshots themselves — java.nio would silently
  // no-op against a remote scheme (ADVICE/VERDICT r2).
  private def fsFor(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def isFile(fs: FileSystem, p: Path): Boolean =
    fs.exists(p) && fs.getFileStatus(p).isFile

  private def isDir(fs: FileSystem, p: Path): Boolean =
    fs.exists(p) && fs.getFileStatus(p).isDirectory

  def checkpoint(algorithm: String, iter: Int, labels: DataFrame): DataFrame = {
    val path = s"$dir/$algorithm/labels/iter=$iter"
    labels.write.mode("overwrite").parquet(path)
    val reread = spark.read.parquet(path)
    val lineage = reread
      .groupBy(spark_partition_id().as("partitionId"))
      .agg(count(lit(1)).as("rowCount"), sum(col("label")).as("labelSum"))
      .withColumn("iteration", lit(iter))
    lineage.write.mode("overwrite")
      .parquet(s"$dir/$algorithm/lineage/iter=$iter")
    reread.persist(StorageLevel.MEMORY_AND_DISK)
  }

  def writeMetrics(algorithm: String, metrics: Seq[SuperstepMetrics]): Unit = {
    val json = metrics.map { m =>
      s"""{"algorithm":"${m.algorithm}","iteration":${m.iteration},""" +
        s""""changes":${m.changes},"communities":${m.communities},""" +
        s""""wallMillis":${m.wallMillis}}"""
    }.mkString("[", ",", "]")
    val p = new Path(s"$dir/$algorithm/metrics.json")
    val fs = fsFor(p)
    val out = fs.create(p, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Metrics history as last written by [[writeMetrics]] (empty if none).
    * Hand-rolled parse of the hand-rolled JSON above — no JSON library in
    * the offline classpath beyond Spark's internals.
    */
  def readMetrics(algorithm: String): Seq[SuperstepMetrics] = {
    val p = new Path(s"$dir/$algorithm/metrics.json")
    val fs = fsFor(p)
    if (!isFile(fs, p)) return Nil
    val in = fs.open(p)
    val txt =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val rec = """\{"algorithm":"([^"]+)","iteration":(\d+),"changes":(\d+),"communities":(\d+),"wallMillis":(\d+)\}""".r
    rec.findAllMatchIn(txt).map { m =>
      SuperstepMetrics(m.group(1), m.group(2).toInt, m.group(3).toLong,
        m.group(4).toLong, m.group(5).toLong)
    }.toSeq
  }

  /** Iteration numbers with a durable label snapshot, ascending. */
  private def snapshotIters(algorithm: String): Seq[Int] = {
    val base = new Path(s"$dir/$algorithm/labels")
    val fs = fsFor(base)
    if (!isDir(fs, base)) return Nil
    fs.listStatus(base).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("iter=") => n.stripPrefix("iter=").toInt }
      .sorted
  }

  /** Delete label/lineage snapshots with iteration > `iter` — called
    * before resuming so stale snapshots from a previous (farther-advanced
    * but then re-interrupted) run can never shadow the resumed run's
    * progress in [[latest]].
    */
  def pruneAbove(algorithm: String, iter: Int): Unit =
    Seq("labels", "lineage").foreach { kind =>
      val base = new Path(s"$dir/$algorithm/$kind")
      val fs = fsFor(base)
      if (isDir(fs, base)) {
        fs.listStatus(base).foreach { st =>
          val name = st.getPath.getName
          if (name.startsWith("iter=") && name.stripPrefix("iter=").toInt > iter)
            fs.delete(st.getPath, true)
        }
      }
    }

  /** Latest durable snapshot for `algorithm`, if any — no completeness
    * check; prefer [[validatedLatest]] as the resume point.
    */
  def latest(algorithm: String): Option[(Int, DataFrame)] =
    snapshotIters(algorithm).lastOption.map { it =>
      (it, spark.read.parquet(s"$dir/$algorithm/labels/iter=$it"))
    }

  /** Latest VALIDATED snapshot: the highest iteration whose parquet commit
    * marker (_SUCCESS) exists AND whose iteration appears in the metrics
    * history — a partially-written snapshot from a crashed farther-advanced
    * run satisfies neither, so resuming from here (after
    * `pruneAbove(_, iter)`) can never adopt torn state (ADVICE r2: pruning
    * relative to `latest()` was a no-op by construction).
    */
  def validatedLatest(algorithm: String): Option[(Int, DataFrame)] = {
    val metricIters = readMetrics(algorithm).map(_.iteration).toSet
    snapshotIters(algorithm).reverse.find { it =>
      val marker = new Path(s"$dir/$algorithm/labels/iter=$it/_SUCCESS")
      metricIters.contains(it) && isFile(fsFor(marker), marker)
    }.map(it => (it, spark.read.parquet(s"$dir/$algorithm/labels/iter=$it")))
  }
}
