package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call into a layer, or one whole op (a root span, parent -1). Times
  * are wall-clock ms for attributing Spark jobs, and nanoTime for
  * durations. `baseBytes` is the on-disk size of the input the call was
  * given, the denominator of `scan_passes`. */
final class Span(val id: Int, val parent: Int, val opId: Int,
    val name: String, val phase: String, val startMs: Long, val startNs: Long,
    val baseBytes: Long) {
  var endMs: Long = Long.MaxValue
  var endNs: Long = 0L
  def wallMs: Double = (endNs - startNs) / 1e6
  def layer: String = name.takeWhile(_ != '.')
}

final class JobRec(val id: Int, val startMs: Long, val callSite: String,
    val stageIds: Seq[Int]) {
  var endMs: Long = startMs
  var span: Int = -1
}

final class StageAcc {
  var tasks = 0L; var cpuNs = 0L; var shuffleWrite = 0L; var spill = 0L
}

/** What one span cost, from the Spark side: jobs attributed to it and the
  * completed stages of those jobs. `jobMs` is the part of the span's wall
  * during which at least one of its jobs was running; the rest is
  * `driverMs`. */
final case class SpanCost(span: Span, jobs: Int, stages: Int, tasks: Long,
    jobMs: Double, cpuMs: Double, scanBytes: Long, shuffleWrite: Long,
    spill: Long, callSites: Seq[(String, Double, Double)]) {
  def driverMs: Double = math.max(0.0, span.wallMs - jobMs)
  def scanPasses: Double =
    if (span.baseBytes > 0) scanBytes.toDouble / span.baseBytes else 0.0
}

/** Spans recorded on the benchmark's side of each layer boundary, and the
  * one Spark listener the benchmark installs. The benchmark drives the
  * program from a single client thread, so the span open on the calling
  * thread when a job was submitted is the innermost span whose interval
  * holds the job's submission time; jobs are attributed that way once the
  * bus has drained. Spans stay in memory until the run writes them out. */
final class Tracer(sc: SparkContext) extends SparkListener {
  /** Whether the current op records spans (a traced run alternates). */
  @volatile var enabled = false
  /** "setup" or "run": set-up spans (store builds) are kept apart. */
  @volatile var phase = "setup"

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextOp = 0
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val sqlSites = mutable.HashMap.empty[Long, String]
  private val sqlStart = mutable.HashMap.empty[Long, Long]
  private val sqlScanBytes = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
  private val scanSizeMetrics = mutable.HashSet.empty[Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageAcc]

  sc.addSparkListener(this)

  /** Opens a root span (a new op) when none is open, else a child. */
  def span[A](name: String, baseBytes: Long = 0L)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val opId = parent.fold { nextOp += 1; nextOp - 1 }(_.opId)
      val s = new Span(spans.size, parent.fold(-1)(_.id), opId, name, phase,
        System.currentTimeMillis(), System.nanoTime(), baseBytes)
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
      }
    }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** File bytes each query scans come from its scans' "size of files
    * read" metrics. The tasks' input metrics would be the direct measure,
    * but the parquet reader's column-chunk reads do not reach them. */
  private def scanMetrics(p: org.apache.spark.sql.execution.SparkPlanInfo): Unit = {
    p.metrics.foreach(m => if (m.name == "size of files read") scanSizeMetrics += m.accumulatorId)
    p.children.foreach(scanMetrics)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      sqlSites(s.executionId) = s.description
      sqlStart(s.executionId) = s.time
      scanMetrics(s.sparkPlanInfo)
    }
    case u: org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate =>
      synchronized(scanMetrics(u.sparkPlanInfo))
    case d: org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates => synchronized {
      d.accumUpdates.foreach { case (id, v) =>
        if (scanSizeMetrics(id)) sqlScanBytes(d.executionId) += v }
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a SQL job's call site is its query's, the frame that ran the action;
    // the job's own stage names only show the thread that submitted it
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val site = exec.flatMap(id => sqlSites.get(id.toLong)).getOrElse(
      if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name)
    jobs(e.jobId) = new JobRec(e.jobId, e.time, site, e.stageIds)
    e.stageIds.foreach(st => if (!stageJob.contains(st)) stageJob(st) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val a = stages.getOrElseUpdate(info.stageId, new StageAcc)
    a.tasks += info.numTasks
    Option(info.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
    }
  }

  /** Per-span Spark cost. Call after [[drain]]. */
  def costs(): Seq[SpanCost] = synchronized {
    // innermost span holding the submission time: latest start wins
    val closed = spans.filter(_.endNs != 0L).sortBy(_.startNs)
    def spanAt(t: Long) =
      closed.filter(s => s.startMs <= t && t <= s.endMs).lastOption.fold(-1)(_.id)
    jobs.values.foreach(j => j.span = spanAt(j.startMs))
    val bySpan = jobs.values.groupBy(_.span)
    val scanned = sqlScanBytes.toSeq.groupMapReduce { case (id, _) =>
      sqlStart.get(id).fold(-1)(spanAt) }(_._2)(_ + _)
    closed.map { s =>
      val js = bySpan.getOrElse(s.id, Nil).toSeq
      val st = js.flatMap(j => j.stageIds.filter(stageJob.get(_).contains(j.id)))
        .flatMap(stages.get)
      val covered = coveredMs(js.map(j => (math.max(j.startMs, s.startMs),
        math.min(j.endMs, s.endMs))))
      val sites = js.groupBy(_.callSite).toSeq.map { case (k, v) =>
        (k, v.size.toDouble, coveredMs(v.map(j => (j.startMs, j.endMs)))) }.sortBy(-_._3)
      SpanCost(s, js.size, st.size, st.map(_.tasks).sum, covered,
        st.map(_.cpuNs).sum / 1e6, scanned.getOrElse(s.id, 0L),
        st.map(_.shuffleWrite).sum, st.map(_.spill).sum, sites)
    }.toSeq
  }

  private def coveredMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    (total + (curE - curS)).toDouble
  }

  /** Spans with their Spark cost and the jobs attributed to each, one JSON
    * object per line. */
  def write(path: java.nio.file.Path, costs: Seq[SpanCost]): Unit = {
    val byId = costs.map(c => c.span.id -> c).toMap
    val lines = spans.map { s =>
      val c = byId.get(s.id)
      Json.obj(Seq(
        "span" -> s.id, "parent" -> s.parent, "op" -> s.opId, "name" -> s.name,
        "phase" -> s.phase,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_ms" -> s.wallMs,
        "jobs" -> c.fold(0)(_.jobs), "stages" -> c.fold(0)(_.stages),
        "tasks" -> c.fold(0L)(_.tasks), "job_ms" -> c.fold(0.0)(_.jobMs),
        "exec_cpu_ms" -> c.fold(0.0)(_.cpuMs),
        "scan_bytes" -> c.fold(0L)(_.scanBytes),
        "shuffle_write_bytes" -> c.fold(0L)(_.shuffleWrite),
        "spill_bytes" -> c.fold(0L)(_.spill),
        "call_sites" -> c.fold(Seq.empty[(String, Double, Double)])(_.callSites)
          .map { case (k, n, ms) => Json.obj(Seq("site" -> k, "jobs" -> n, "ms" -> ms)) }))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      lines.map(_.s).mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
