package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.graph.GraphOps
import graft.sources.{PagesSynth, TextExtract}

/** Round-6 optimization harness (guide §1.4): isolates each headline query
  * on the SAME graph build as `graft.Bench` (which is frozen), times it
  * with the identical action, and optionally dumps the executed physical
  * plans of everything that ran — so plan-shape changes (join strategy,
  * exchange count) can be tied to before/after seconds without touching
  * the frozen bench.
  *
  * Usage:   sbt "runMain graft.tools.BenchExtra <query> [reps]"
  *   query ∈ lp_fixed5 | lp_converge | cc_converge | pagerank_10 |
  *           triangles | all | scaling | registry
  * Env:     SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_PAGES (default
  *          200000), SPARK_GRAFT_PLANS=1 → print executed plans once.
  *          registry: SPARK_GRAFT_SF_DIR (default sf0.01),
  *          SPARK_GRAFT_ONLY (comma-separated subset, as in Verify).
  * Output:  one line per rep: `EXTRA <query> <seconds>`; registry mode
  *          prints one `REGQ <name> <seconds> <jobs>` line per query,
  *          where jobs = the Spark jobs that query started, so one sweep
  *          per commit gives the job table of a change.
  */
object BenchExtra {

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val query = args.headOption.getOrElse("all")
    val reps = if (args.length > 1) args(1).toInt else 1
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nPages = sys.env.getOrElse("SPARK_GRAFT_PAGES", "200000").toLong
    val dumpPlans = sys.env.contains("SPARK_GRAFT_PLANS")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-benchextra-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // SPARK_GRAFT_PROFILE=1: per-stage wall/cpu breakdown on stderr (the
    // scalingRunAt listener, reused for headline isolation)
    if (sys.env.contains("SPARK_GRAFT_PROFILE"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val i = sc.stageInfo
            val wall = (for {s <- i.submissionTime; c <- i.completionTime}
              yield c - s).getOrElse(-1L)
            System.err.println(s"[stage] id=${i.stageId} name=${i.name.take(60)} " +
              s"tasks=${i.numTasks} wallMs=$wall " +
              s"runMs=${i.taskMetrics.executorRunTime} " +
              s"cpuMs=${i.taskMetrics.executorCpuTime / 1000000} " +
              s"gcMs=${i.taskMetrics.jvmGCTime} " +
              s"shufReadMB=${i.taskMetrics.shuffleReadMetrics.totalBytesRead / 1048576} " +
              s"shufWriteMB=${i.taskMetrics.shuffleWriteMetrics.bytesWritten / 1048576} " +
              s"fetchWaitMs=${i.taskMetrics.shuffleReadMetrics.fetchWaitTime}")
          }
        })

    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    if (dumpPlans)
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(name: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit =
            plans.synchronized { plans += qe.executedPlan.toString() }
          override def onFailure(name: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              e: Exception): Unit = ()
        })

    // registry mode: time EVERY declared query at the given scale factor
    // with the noop sink (guide §1.4) — the measure-first sweep over the
    // whole oracle-gated surface, slowest last. Each query starts with an
    // empty cache, so its job count does not depend on the queries before
    // it; jobs are counted by the description every job of the query
    // inherits (broadcast and subquery jobs included).
    if (query == "registry") {
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
      val only = sys.env.get("SPARK_GRAFT_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        .filter(_.nonEmpty)
      val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .foreach(d => jobs.merge(d, 1, (a: Integer, b: Integer) => a + b))
      })
      val results = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      graft.SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(kv => only.forall(_(kv._1))).foreach { case (name, fn) =>
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(s"registry: $name")
        try {
          val (_, sec) = time {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
          results += ((name, sec))
        } catch { case e: Throwable =>
          System.err.println(s"[registry] $name failed: ${e.getMessage}")
        }
      }
      Thread.sleep(2000) // listener delivery is asynchronous
      results.sortBy(_._2).foreach { case (n, s) =>
        println(f"REGQ $n $s%.3f ${jobs.getOrDefault(s"registry: $n", 0)}")
      }
      println(f"REGQ_TOTAL ${results.map(_._2).sum}%.1f over ${results.size} queries")
      spark.stop()
      return
    }

    // scaling-probe mode: mirrors Bench.scalingRunAt's superstep chain
    // (synthetic Zipf graph, mapSideCombine=false, one hash action) so the
    // scaling path's join strategy and per-superstep cost can be inspected
    // without the frozen bench's fork/calibration machinery.
    if (query == "scaling") {
      val nVerts = sys.env.getOrElse("SPARK_GRAFT_VERTS", "1600000").toLong
      val steps = sys.env.getOrElse("SPARK_GRAFT_STEPS", "6").toInt
      val id = col("id")
      val targets = transform(sequence(lit(0), lit(7)), k => {
        val u = pmod(xxhash64(id, k, lit(42L)), lit(1000000L)).cast("double") / 1000000.0
        least(floor(pow(u, 3.0) * nVerts).cast("long"), lit(nVerts - 1))
      })
      val raw = spark.range(nVerts).select(id.as("src"), explode(targets).as("dst"))
      val edges = GraphOps.prepareForGather(
        GraphOps.symmetrize(GraphOps.dropSelfLoops(raw)), cores)
      val slots = edges.count()
      System.err.println(s"[extra] scaling slots=$slots verts=$nVerts cores=$cores")
      for (r <- 1 to reps) {
        var labels = LabelPropagation.initLabels(GraphOps.vertices(edges))
        val toFree = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        var i = 0
        while (i < steps) {
          i += 1
          labels = LabelPropagation.superstep(edges, labels, symmetric = true,
              mapSideCombine = false)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          toFree += labels
        }
        val (_, sec) = time {
          labels.agg(bit_xor(xxhash64(col("id"), col("label")))).first().getLong(0)
        }
        toFree.foreach(_.unpersist(blocking = false))
        println(f"EXTRA scaling $sec%.4f")
        if (dumpPlans && r == 1) {
          val ps = plans.synchronized { val s = plans.toSeq; plans.clear(); s }
          ps.zipWithIndex.foreach { case (p, i2) =>
            println(s"==== PLAN scaling #$i2 ====")
            println(p)
          }
        }
      }
      spark.stop()
      return
    }

    // identical to Bench.buildHeadlineGraph (frozen there, mirrored here)
    val pages = PagesSynth.pages(spark, nPages)
    val (raw, _) = TextExtract.buildEdges(pages, scalableDict = true)
    val edges = GraphOps.prepareForGather(
      GraphOps.symmetrize(GraphOps.dropSelfLoops(raw)), cores)
    val slots = edges.count()
    val nNodes = GraphOps.vertices(edges).count()
    System.err.println(s"[extra] slots=$slots nodes=$nNodes cores=$cores")

    def runOne(q: String): Double = q match {
      case "lp_fixed5" =>
        spark.sparkContext.setJobDescription("extra: lp_fixed5")
        time {
          LabelPropagation
            .runFixed(edges, 5, symmetric = true, packedArgmax = Some(true))
            .agg(bit_xor(xxhash64(col("id"), col("label")))).first().getLong(0)
        }._2
      case "lp_converge" =>
        spark.sparkContext.setJobDescription("extra: lp_converge")
        time {
          LabelPropagation.run(edges, nNodes, earlyStop = true, symmetric = true)
        }._2
      case "cc_converge" =>
        spark.sparkContext.setJobDescription("extra: cc_converge")
        time { ConnectedComponents.run(edges, nNodes) }._2
      case "pagerank_10" =>
        spark.sparkContext.setJobDescription("extra: pagerank_10")
        time {
          PageRank.runFixed(edges, iterations = 10, partitions = cores,
            symmetric = true).count()
        }._2
      case "triangles" =>
        spark.sparkContext.setJobDescription("extra: triangles")
        time { TriangleCount.countTriangles(edges) }._2
      case other => sys.error(s"unknown query $other")
    }

    val queries =
      if (query == "all")
        Seq("lp_fixed5", "lp_converge", "cc_converge", "pagerank_10", "triangles")
      else Seq(query)
    for (r <- 1 to reps; q <- queries) {
      val sec = runOne(q)
      println(f"EXTRA $q $sec%.4f")
      if (dumpPlans && r == 1) {
        val ps = plans.synchronized { val s = plans.toSeq; plans.clear(); s }
        ps.zipWithIndex.foreach { case (p, i) =>
          println(s"==== PLAN $q #$i ====")
          println(p)
        }
      }
    }
    spark.stop()
  }
}
