package graftbench

import java.util.Properties
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call of the harness into a public function of the engine. */
final case class Call(id: Int, name: String, pass: Int, startMs: Long,
                      endMs: Long, wallS: Double, cacheBefore: Int,
                      cacheAfter: Int, error: Option[String])

/** Spark-side records, kept per job, stage and task. */
final case class JobRec(jobId: Int, call: Int, startMs: Long, var endMs: Long,
                        stageIds: Seq[Int])
final case class StageRec(stageId: Int, call: Int, name: String,
                          submitMs: Long, endMs: Long, runMs: Long, gcMs: Long,
                          shuffleWriteBytes: Long, spillBytes: Long,
                          tasks: Int)
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
                         runMs: Long)

/** Listener registered by the benchmark. Jobs are matched to the call that
  * launched them through a local property the harness sets around each
  * call; Spark copies local properties into every job-start event, also
  * for jobs launched from broadcast and adaptive-execution threads.
  *
  * Untraced runs keep only job counts and per-stage totals, which the
  * pass-validity guard needs. Traced runs also keep every task and the
  * planning phases of every SQL execution.
  */
final class Probe(traced: Boolean) extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = ArrayBuffer.empty[StageRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  private val stageCall = mutable.HashMap.empty[Int, Int]
  private val jobById = mutable.HashMap.empty[Int, JobRec]
  /** Nanoseconds spent inside this listener's callbacks. */
  @volatile var selfNanos = 0L

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally selfNanos += System.nanoTime() - t0
  }

  private def callOf(p: Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Probe.CallKey)))
      .map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    synchronized {
      val call = callOf(e.properties)
      val rec = JobRec(e.jobId, call, e.time, -1L, e.stageIds)
      jobs += rec
      jobById(e.jobId) = rec
      e.stageIds.foreach(s => if (!stageCall.contains(s)) stageCall(s) = call)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    synchronized { jobById.get(e.jobId).foreach(_.endMs = e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages += StageRec(i.stageId, stageCall.getOrElse(i.stageId, -1),
        i.name, i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L),
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.jvmGCTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.diskBytesSpilled + m.memoryBytesSpilled,
        i.numTasks)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced) timed {
    synchronized {
      val run = if (e.taskMetrics == null) 0L else e.taskMetrics.executorRunTime
      tasks += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime, run)
    }
  }
}

object Probe {
  val CallKey = "graftbench.call"
}

/** Planning-phase time of every SQL execution, by the time it started. */
final class PlanProbe extends QueryExecutionListener {
  /** (analysis start ms, analysis + optimization + planning ms) */
  val phases = ArrayBuffer.empty[(Long, Long)]

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    val names = Seq("analysis", "optimization", "planning")
    val present = names.flatMap(ph.get)
    if (present.nonEmpty)
      phases += ((present.map(_.startTimeMs).min, present.map(_.durationMs).sum))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
}

/** Records a span around each call the harness makes into the engine and
  * derives per-call metrics from the listener's records. Spans stay in
  * memory and are written once, when the run ends.
  */
final class Recorder(val spark: SparkSession, val traced: Boolean,
                     val runId: String) {
  private val sc: SparkContext = spark.sparkContext
  val probe = new Probe(traced)
  sc.addSparkListener(probe)
  val planProbe = new PlanProbe
  if (traced) spark.listenerManager.register(planProbe)

  val calls = ArrayBuffer.empty[Call]
  private var nextId = 0
  private var lastId = -1
  /** Extra per-call figures (supersteps, checkpoint bytes, ...). */
  val extras = mutable.LinkedHashMap.empty[Int, mutable.LinkedHashMap[String, Double]]

  /** Entries in the session's cache manager (package-private in Spark,
    * hence the reflective call).
    */
  def cacheEntries(): Int = spark match {
    case c: org.apache.spark.sql.classic.SparkSession =>
      val cm = c.sharedState.cacheManager
      cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
    case _ => sc.getPersistentRDDs.size
  }

  /** Run `f` as the call `name` of pass `pass`. A call that throws is
    * recorded as failed and yields None; the run goes on.
    */
  def call[T](name: String, pass: Int)(f: => T): Option[T] = {
    val id = nextId
    nextId += 1
    val before = cacheEntries()
    sc.setLocalProperty(Probe.CallKey, id.toString)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out =
      try Right(f)
      catch { case scala.util.control.NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    sc.setLocalProperty(Probe.CallKey, null)
    val err = out.left.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}")
    calls += Call(id, name, pass, startMs, endMs, wall, before, cacheEntries(), err)
    err.foreach(m => System.err.println(s"[graftbench] $name failed: $m"))
    lastId = id
    out.toOption
  }

  /** Attach a figure to the most recent call. */
  def note(key: String, value: Double): Unit =
    extras.getOrElseUpdate(lastId, mutable.LinkedHashMap.empty)(key) = value

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Jobs and shuffle bytes written by the calls of one pass. */
  def passTotals(pass: Int): (Int, Long) = probe.synchronized {
    val ids = calls.filter(c => c.pass == pass && c.id >= 0).map(_.id).toSet
    (probe.jobs.count(j => ids(j.call)),
      probe.stages.filter(s => ids(s.call)).map(_.shuffleWriteBytes).sum)
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s
          curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per-call metrics derived from the spans and the listener records. */
  def callMetrics(c: Call): mutable.LinkedHashMap[String, Double] = probe.synchronized {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val st = probe.stages.filter(_.call == c.id)
    val stIds = st.map(_.stageId).toSet
    val tk = probe.tasks.filter(t => stIds(t.stageId))
    m("wall_s") = c.wallS
    m("task_s") = st.map(_.runMs).sum / 1e3
    m("gc_s") = st.map(_.gcMs).sum / 1e3
    val busyMs = covered(tk.map(t => (t.launchMs, t.finishMs)).toSeq, c.startMs, c.endMs)
    m("driver_s") = math.max(0.0, c.wallS - busyMs / 1e3)
    m("jobs") = probe.jobs.count(_.call == c.id).toDouble
    m("shuffle_mb") = st.map(_.shuffleWriteBytes).sum / 1e6
    m("spill_mb") = st.map(_.spillBytes).sum / 1e6
    m("skew") =
      if (st.isEmpty) 0.0
      else {
        val big = st.maxBy(_.runMs).stageId
        val runs = tk.filter(_.stageId == big).map(_.runMs.toDouble).sorted
        if (runs.isEmpty) 0.0
        else {
          val med = runs(runs.length / 2)
          if (med > 0) runs.last / med else 0.0
        }
      }
    m("cache_leaked") = (c.cacheAfter - c.cacheBefore).toDouble
    if (traced) {
      m("planning_s") = planProbe.synchronized {
        planProbe.phases.filter { case (s, _) => s >= c.startMs && s <= c.endMs }
          .map(_._2).sum / 1e3
      }
    }
    extras.get(c.id).foreach(m ++= _)
    m
  }

  /** Every span of the run: calls, and the jobs and stages they caused. */
  def spansJson(): Seq[String] = probe.synchronized {
    val out = ArrayBuffer.empty[String]
    def span(id: String, name: String, parent: String, s: Long, e: Long,
             attrs: String): Unit =
      out += s"""{"run":${Json.str(runId)},"id":${Json.str(id)},""" +
        s""""name":${Json.str(name)},"parent":${Json.str(parent)},""" +
        s""""start_ms":$s,"end_ms":$e$attrs}"""
    calls.foreach { c =>
      span(s"call-${c.id}", c.name, s"pass-${c.pass}", c.startMs, c.endMs,
        s""","pass":${c.pass},"ok":${c.error.isEmpty}""")
    }
    probe.jobs.foreach { j =>
      span(s"job-${j.jobId}", s"job ${j.jobId}",
        if (j.call >= 0) s"call-${j.call}" else "", j.startMs, j.endMs,
        s""","stages":[${j.stageIds.mkString(",")}]""")
    }
    val firstJob = probe.jobs.flatMap(j => j.stageIds.map(_ -> j.jobId))
      .groupBy(_._1).map { case (s, js) => s -> js.map(_._2).min }
    probe.stages.foreach { s =>
      span(s"stage-${s.stageId}", s.name.take(80),
        firstJob.get(s.stageId).map(j => s"job-$j").getOrElse(""),
        s.submitMs, s.endMs,
        s""","tasks":${s.tasks},"run_ms":${s.runMs},""" +
          s""""shuffle_write_bytes":${s.shuffleWriteBytes}""")
    }
    out.toSeq
  }
}

/** Minimal JSON writing; the harness output is flat. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
