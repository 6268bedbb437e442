package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession + fixtures + independent in-memory oracles
  * (SURVEY.md §5.2). Oracles re-implement the reference semantics
  * imperatively (port of `getMaximumLabel` with the engine's pinned
  * min-label tie-break) so the distributed engine is validated against an
  * independent code path, never against itself.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  def edgesDf(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    pairs.toDF("src", "dst")
  }

  /** Directed slots of a symmetrized (undirected, dedup'd) graph. */
  def undirected(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    (pairs ++ pairs.map(p => (p._2, p._1))).distinct

  def labelsMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Listener delivery is async: poll `size` until it holds still for
    * three consecutive 200 ms ticks (30 s cap).
    */
  private def awaitQuiet(size: => Int): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var last = -1
    var stable = 0
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(200)
      val n = size
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
  }

  /** Spark jobs and SQL executions launched while `body` runs. AQE
    * submits every exchange as its own job, so the job count tracks
    * stages; each blocking action (count / first / eager checkpoint)
    * starts exactly one SQL execution.
    */
  def countActions(body: => Unit): ActionCounts = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val execs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          event: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onOtherEvent(
          event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        event match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execs.incrementAndGet()
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      awaitQuiet(jobs.get() + execs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
    ActionCounts(jobs.get(), execs.get())
  }

  /** Every physical plan executed while `body` runs — loops that
    * materialize through checkpoints hide their per-step plans behind the
    * final (LogicalRDD) result plan.
    */
  def executedPlans(body: => Unit): Seq[String] = {
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(name: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString() }
      override def onFailure(name: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      awaitQuiet(plans.synchronized(plans.size))
    } finally spark.listenerManager.unregister(listener)
    plans.synchronized { plans.toSeq }
  }

  /** Entries in the session's cache manager (package-private in Spark,
    * hence the reflective call).
    */
  def cacheEntries(): Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }
}

final case class ActionCounts(jobs: Int, sqlExecutions: Int)

object Fixtures {
  /** Zachary karate club, 34 nodes / 78 undirected pairs (public dataset;
    * same shape as the reference's `datasets/karate_test.txt`).
    */
  val karatePairs: Seq[(Long, Long)] = Seq(
    (1, 2), (1, 3), (1, 4), (1, 5), (1, 6), (1, 7), (1, 8), (1, 9), (1, 11),
    (1, 12), (1, 13), (1, 14), (1, 18), (1, 20), (1, 22), (1, 32),
    (2, 3), (2, 4), (2, 8), (2, 14), (2, 18), (2, 20), (2, 22), (2, 31),
    (3, 4), (3, 8), (3, 9), (3, 10), (3, 14), (3, 28), (3, 29), (3, 33),
    (4, 8), (4, 13), (4, 14),
    (5, 7), (5, 11),
    (6, 7), (6, 11), (6, 17),
    (7, 17),
    (9, 31), (9, 33), (9, 34),
    (10, 34),
    (14, 34),
    (15, 33), (15, 34),
    (16, 33), (16, 34),
    (19, 33), (19, 34),
    (20, 34),
    (21, 33), (21, 34),
    (23, 33), (23, 34),
    (24, 26), (24, 28), (24, 30), (24, 33), (24, 34),
    (25, 26), (25, 28), (25, 32),
    (26, 32),
    (27, 30), (27, 34),
    (28, 34),
    (29, 32), (29, 34),
    (30, 33), (30, 34),
    (31, 33), (31, 34),
    (32, 33), (32, 34),
    (33, 34)).map { case (a, b) => (a.toLong, b.toLong) }

  /** Two 4-cliques joined by one bridge edge (nodes 0-3, 10-13). */
  val twoCliquesBridge: Seq[(Long, Long)] = {
    def clique(ids: Seq[Long]) =
      for (i <- ids.indices; j <- (i + 1) until ids.size) yield (ids(i), ids(j))
    (clique(Seq(0L, 1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L, 13L)) :+ (3L -> 10L))
  }
}

/** Independent sequential oracles. */
object Oracles {

  private def outAdj(slots: Seq[(Long, Long)]): Map[Long, Seq[Long]] =
    slots.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  private def nodesOf(slots: Seq[(Long, Long)]): Seq[Long] =
    (slots.map(_._1) ++ slots.map(_._2)).distinct.sorted

  /** Synchronous LP with the engine's stopping rules (changes==0, plateau
    * of two consecutive zero community-count deltas, cap min(n,500));
    * update = mode of out-neighbor labels, tie → min label, no messages →
    * keep. Mirrors `labelPropagationSequential(sync=true)`
    * (`algorithms.h:373-473`) with the pinned tie-break.
    */
  def labelPropagation(slots: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = outAdj(slots)
    val nodes = nodesOf(slots)
    var labels = nodes.map(n => n -> n).toMap
    val cap = math.min(nodes.size, 500)
    var iter = 0
    var stop = false
    var lastDelta: Option[Long] = None
    var lastCount: Option[Long] = None
    while (iter < cap && !stop) {
      iter += 1
      val next = nodes.map { v =>
        val nb = adj.getOrElse(v, Nil).map(labels)
        if (nb.isEmpty) v -> labels(v)
        else {
          val counts = nb.groupBy(identity).view.mapValues(_.size)
          val maxC = counts.values.max
          v -> counts.collect { case (l, c) if c == maxC => l }.min
        }
      }.toMap
      val changes = nodes.count(v => next(v) != labels(v))
      val communities = next.values.toSet.size.toLong
      labels = next
      if (changes == 0) stop = true
      else {
        val delta = lastCount.map(communities - _)
        val plateau = (delta, lastDelta) match {
          case (Some(0L), Some(0L)) => true
          case _                    => false
        }
        lastDelta = delta
        lastCount = Some(communities)
        if (plateau) stop = true
      }
    }
    labels
  }

  /** Connected components via union-find (exact). */
  def connectedComponents(slots: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = nodesOf(slots)
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    slots.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(n => n -> find(n)).toMap
  }

  /** Dense power-iteration PageRank with uniform dangling redistribution —
    * matches [[graft.algo.PageRank]] semantics.
    */
  def pageRank(slots: Seq[(Long, Long)], iterations: Int, d: Double = 0.85)
      : Map[Long, Double] = {
    val nodes = nodesOf(slots)
    val n = nodes.size
    val idx = nodes.zipWithIndex.toMap
    val outDeg = slots.groupBy(_._1).view.mapValues(_.size).toMap
    var rank = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iterations) {
      val dMass = nodes.iterator
        .filter(v => !outDeg.contains(v)).map(v => rank(idx(v))).sum
      val next = Array.fill(n)((1.0 - d) / n + d * dMass / n)
      slots.foreach { case (u, v) =>
        next(idx(v)) += d * rank(idx(u)) / outDeg(u)
      }
      rank = next
    }
    nodes.map(v => v -> rank(idx(v))).toMap
  }

  /** Brute-force triangle count over canonical pairs. */
  def triangles(slots: Seq[(Long, Long)]): Long = {
    val pairs = slots.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val nodes = nodesOf(slots)
    var c = 0L
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.size
      if pairs((nodes(i), nodes(j)))
      k <- (j + 1) until nodes.size
      if pairs((nodes(j), nodes(k))) && pairs((nodes(i), nodes(k)))
    } c += 1
    c
  }

  /** Naive modularity, literal port of the reference's O(n²·deg) loop
    * (`getModularity`, `community_measures.cu:48-70`).
    */
  def modularityNaive(slots: Seq[(Long, Long)], labels: Map[Long, Long]): Double = {
    val nodes = nodesOf(slots)
    val m = slots.size / 2.0
    if (m == 0) return 0.0
    val adj = slots.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val deg = slots.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var s = 0.0
    for {
      i <- nodes; j <- nodes
      if i != j && labels(i) == labels(j)
    } {
      val aij = if (adj.getOrElse(i, Set.empty).contains(j)) 1.0 else 0.0
      s += aij - deg.getOrElse(i, 0.0) * deg.getOrElse(j, 0.0) / (2 * m)
    }
    s / (2 * m)
  }
}
