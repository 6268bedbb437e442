package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.engine.Checkpointer
import graft.graph.GraphOps
import graft.measures.Measures
import graft.sources.TextExtract

/** Runs one benchmark workload in this JVM and writes `result.json` and
  * `spans.jsonl` into the output directory. The inputs are generated by
  * `run.py` before this JVM starts; this program only reads them.
  *
  * Usage: graftbench.Main workload=<name> input=<dir> out=<dir> cores=<k>
  *        tables=<dir> seconds=<s> trace=<0|1>
  *        launch_ms=<epoch ms of the JVM launch> run_id=<id>
  *
  * Workloads:
  *   crawl_job       the CLI `lp` mode on a pages table, in this fresh JVM,
  *                   then one registry query
  *   superstep_warm  an untimed warm-up pass, then timed passes of the five
  *                   headline analytics on a long-id graph
  */
object Main {

  final class Run(val opts: Map[String, String]) {
    val workload: String = opts("workload")
    val input: String = opts("input")
    val out: String = opts("out")
    val cores: Int = opts("cores").toInt
    val seconds: Double = opts("seconds").toDouble
    val traced: Boolean = opts("trace") == "1"
    val launchMs: Long = opts("launch_ms").toLong
    val runId: String = opts("run_id")

    var spark: SparkSession = _
    var rec: Recorder = _
    var sessionReadyMs = 0L
    var setupEndMs = 0L
    var endMs = 0L
    val info = mutable.LinkedHashMap.empty[String, String]
    /** (pass, warm-up?, start ms, end ms, wall s) */
    val passes = ArrayBuffer.empty[(Int, Boolean, Long, Long, Double)]
    /** call id -> result values, JSON-encoded */
    val results = mutable.LinkedHashMap.empty[Int, mutable.LinkedHashMap[String, String]]

    def put(key: String, value: String): Unit = {
      val id = rec.calls.last.id
      results.getOrElseUpdate(id, mutable.LinkedHashMap.empty)(key) = value
    }

    def check(name: String): String = s"$out/checks/$name"

    def startSession(appName: String, logLevel: String): Unit = {
      val builder = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(appName)
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$out/spark-local")
        .config("spark.sql.warehouse.dir", s"$out/spark-warehouse")
      spark = builder.getOrCreate()
      spark.sparkContext.setLogLevel(logLevel)
      sessionReadyMs = System.currentTimeMillis()
      rec = new Recorder(spark, traced, runId)
      // the session span runs from the JVM launch to a ready session
      rec.calls += Call(-1, "session.start", 0, launchMs, sessionReadyMs,
        (sessionReadyMs - launchMs) / 1e3, 0, 0, None)
      info("spark_version") = Json.str(spark.version)
    }

    def pass(p: Int, warmup: Boolean)(body: => Unit): Unit = {
      val s = System.currentTimeMillis()
      val t0 = System.nanoTime()
      body
      passes += ((p, warmup, s, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9))
    }

    /** Bytes of all files under a directory. */
    def dirBytes(path: String): Long = {
      def walk(f: File): Long =
        if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
        else f.length()
      walk(new File(path))
    }
  }

  /** Order-independent hash of an (id, label) table, the same action
    * `graft.Bench` times after its fixed-superstep run.
    */
  def labelHash(df: DataFrame): Long =
    df.agg(bit_xor(xxhash64(col("id"), col("label")))).first().getLong(0)

  /** Pass-validity guard: drop the cache entries a pass leaked, so the
    * next pass recomputes everything instead of reading them. The edge
    * table survives because it is held as a local checkpoint, which the
    * cache manager does not track.
    */
  def dropLeaks(r: Run): Unit = r.spark.catalog.clearCache()

  // ---------------------------------------------------------------- crawl_job

  /** The CLI's flagship mode, `graft.cli.Main lp pages:<path> <out>`, step
    * by step with a span around each call: build the graph from the pages
    * table, run label propagation to convergence with a checkpoint every
    * superstep, write the labels, score them, write the dictionary.
    */
  def crawlJob(r: Run): Unit = {
    r.startSession("graft-linkgraph", "WARN")
    val rec = r.rec
    val spark = r.spark
    val outDir = s"${r.out}/job"
    r.pass(0, warmup = false) {
      val built = rec.call("build", 0) {
        val (rawEdges, dict) = TextExtract.buildEdges(spark.read.parquet(s"${r.input}/pages"))
        val edges = GraphOps.prepareForGather(
          GraphOps.symmetrize(GraphOps.dropSelfLoops(rawEdges)), r.cores)
        val nNodes = GraphOps.vertices(edges).count()
        val nSlots = edges.count()
        (edges, dict, nNodes, nSlots)
      }
      r.setupEndMs = System.currentTimeMillis()
      val (edges, dict, nNodes, nSlots) = built.getOrElse(sys.error("build failed"))
      r.info("vertices") = nNodes.toString
      r.info("slots") = nSlots.toString
      val cp = new Checkpointer(s"$outDir/checkpoints", spark)
      rec.call("algo.lp_converge", 0) {
        require(cp.validatedLatest("lp").isEmpty, "stale lp checkpoint")
        LabelPropagation.run(edges, nNodes, checkpointer = Some(cp),
          checkpointEvery = 1, maxIter = None, symmetric = true, tieBreakSeed = None)
      }.foreach { res =>
        rec.note("supersteps", res.iterations)
        rec.note("checkpoint_mb", r.dirBytes(s"$outDir/checkpoints") / 1e6)
        r.put("iterations", res.iterations.toString)
        rec.call("io.write_outputs", 0) {
          res.labels.write.mode("overwrite").parquet(s"$outDir/lp_labels")
        }
        rec.call("measures.modularity", 0) {
          (Measures.modularity(edges, res.labels), Measures.communityCount(res.labels))
        }.foreach { case (q, c) =>
          r.put("modularity", Json.num(q))
          r.put("communities", c.toString)
        }
      }
      rec.call("io.write_outputs", 0) {
        dict.write.mode("overwrite").parquet(s"$outDir/dictionary")
      }
    }
    r.endMs = System.currentTimeMillis()
    // after the job: one registry driver-loop query, cold, so the queries
    // layer is measured; its output and oracle SQL go to the runner's check
    val query = "g_kcore_t3"
    r.pass(1, warmup = false) {
      rec.call(s"queries.$query", 1) {
        graft.SparkEntry.queries(query)(spark, r.opts("tables"))
          .write.mode("overwrite").parquet(r.check(query))
      }
    }
    Files.write(Paths.get(r.check(s"$query.sql")),
      graft.SparkEntry.oracleSql(query).getBytes(StandardCharsets.UTF_8))
  }

  // ----------------------------------------------------------- superstep_warm

  /** One pass of the five headline analytics, each timed on the same
    * action `graft.Bench` times. The warm-up pass also writes the outputs
    * the runner checks; every pass reports order-independent hashes, and
    * the runner requires the timed passes to match the warm-up pass.
    */
  def warmPass(r: Run, edges: DataFrame, nNodes: Long, p: Int, warmup: Boolean): Unit = {
    val rec = r.rec
    def keep(df: DataFrame, name: String): Unit =
      if (warmup) rec.call("io.write_outputs", p) {
        df.write.mode("overwrite").parquet(r.check(name))
      }

    rec.call("algo.lp_fixed5", p) {
      val labels = LabelPropagation.runFixed(edges, 5, symmetric = true,
        packedArgmax = Some(true))
      (labels, labelHash(labels))
    }.foreach { case (labels, h) =>
      rec.note("supersteps", 5)
      r.put("hash", h.toString)
      keep(labels, "lp_fixed5")
    }
    rec.call("algo.lp_converge", p) {
      LabelPropagation.run(edges, nNodes, earlyStop = true, symmetric = true)
    }.foreach { res =>
      rec.note("supersteps", res.iterations)
      r.put("iterations", res.iterations.toString)
      r.put("hash", labelHash(res.labels).toString)
      keep(res.labels, "lp_converge")
    }
    rec.call("algo.cc_converge", p) {
      ConnectedComponents.run(edges, nNodes)
    }.foreach { res =>
      rec.note("supersteps", res.iterations)
      r.put("iterations", res.iterations.toString)
      r.put("hash", labelHash(res.labels).toString)
      keep(res.labels, "cc_converge")
    }
    rec.call("algo.pagerank", p) {
      val ranks = PageRank.runFixed(edges, iterations = 10, partitions = r.cores,
        symmetric = true)
      ranks.count()
      ranks
    }.foreach { ranks =>
      rec.note("supersteps", 10)
      r.put("iterations", "10")
      keep(ranks, "pagerank")
    }
    rec.call("algo.triangles", p) {
      TriangleCount.countTriangles(edges)
    }.foreach(t => r.put("triangles", t.toString))
  }

  /** Build the graph and run the warm-up pass (the set-up), then timed
    * passes until `seconds` have passed, at least one.
    */
  def superstepWarm(r: Run): Unit = {
    r.startSession("graftbench-superstep-warm", "ERROR")
    val rec = r.rec
    val spark = r.spark
    var graph: Option[(DataFrame, Long, Long)] = None
    r.pass(0, warmup = true) {
      graph = rec.call("build", 0) {
        val raw = spark.read.parquet(s"${r.input}/edges")
        val persisted = GraphOps.prepareForGather(
          GraphOps.symmetrize(GraphOps.dropSelfLoops(raw)), r.cores)
        // held as a local checkpoint (keeps the dst partitioning) so that
        // clearing leaked cache entries between passes cannot drop it
        val edges = persisted.localCheckpoint(eager = true)
        persisted.unpersist(blocking = true)
        val nSlots = edges.count()
        val nNodes = GraphOps.vertices(edges).count()
        (edges, nNodes, nSlots)
      }
      graph.foreach { case (edges, nNodes, _) =>
        warmPass(r, edges, nNodes, 0, warmup = true)
      }
    }
    val (edges, nNodes, nSlots) = graph.getOrElse(sys.error("build failed"))
    r.info("vertices") = nNodes.toString
    r.info("slots") = nSlots.toString
    dropLeaks(r)
    r.setupEndMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var p = 0
    while (p < 1 || (System.nanoTime() - t0) / 1e9 < r.seconds) {
      p += 1
      r.pass(p, warmup = false) { warmPass(r, edges, nNodes, p, warmup = false) }
      dropLeaks(r)
    }
    r.endMs = System.currentTimeMillis()
  }

  // ------------------------------------------------------------------- output

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssKb(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
      finally src.close()
    } catch { case scala.util.control.NonFatal(_) => -1L }

  def writeResult(r: Run): Unit = {
    val rec = r.rec
    rec.drain()
    val passJson = r.passes.map { case (p, warm, s, e, wall) =>
      val (jobs, shuffle) = rec.passTotals(p)
      val inCalls = rec.calls.filter(c => c.pass == p && c.id >= 0)
      Json.obj(Seq("pass" -> p.toString, "warmup" -> warm.toString,
        "start_ms" -> s.toString, "end_ms" -> e.toString, "wall_s" -> Json.num(wall),
        "call_s" -> Json.num(inCalls.map(_.wallS).sum),
        "jobs" -> jobs.toString, "shuffle_bytes" -> shuffle.toString))
    }
    val callJson = rec.calls.map { c =>
      val metrics =
        if (c.id < 0) mutable.LinkedHashMap("wall_s" -> c.wallS)
        else rec.callMetrics(c)
      Json.obj(Seq("id" -> c.id.toString, "name" -> Json.str(c.name),
        "pass" -> c.pass.toString, "start_ms" -> c.startMs.toString,
        "end_ms" -> c.endMs.toString,
        "error" -> c.error.map(Json.str).getOrElse("null"),
        "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
        "results" -> Json.obj(r.results.getOrElse(c.id, mutable.LinkedHashMap.empty))))
    }
    r.info("java_version") = Json.str(System.getProperty("java.version"))
    r.info("java_vm") = Json.str(System.getProperty("java.vm.name"))
    val head = Seq(
      "workload" -> Json.str(r.workload), "run_id" -> Json.str(r.runId),
      "cores" -> r.cores.toString, "traced" -> r.traced.toString,
      "launch_ms" -> r.launchMs.toString, "session_ready_ms" -> r.sessionReadyMs.toString,
      "setup_end_ms" -> r.setupEndMs.toString, "end_ms" -> r.endMs.toString,
      "peak_rss_kb" -> peakRssKb().toString,
      "listener_s" -> Json.num(rec.probe.selfNanos / 1e9)) ++ r.info
    val json = Json.obj(head ++ Seq(
      "passes" -> passJson.mkString("[", ",", "]"),
      "calls" -> callJson.mkString("[", ",", "]")))
    Files.write(Paths.get(s"${r.out}/result.json"), json.getBytes(StandardCharsets.UTF_8))
    if (r.traced)
      Files.write(Paths.get(s"${r.out}/spans.jsonl"),
        rec.spansJson().mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected key=value, got: $a")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val r = new Run(opts)
    Files.createDirectories(Paths.get(s"${r.out}/checks"))
    try {
      r.workload match {
        case "crawl_job"      => crawlJob(r)
        case "superstep_warm" => superstepWarm(r)
        case other            => sys.error(s"unknown workload: $other")
      }
      writeResult(r)
    } finally if (r.spark != null) r.spark.stop()
  }
}
