package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed region: a benchmark op (parent = -1) or a layer span nested
  * in it. Times are System.nanoTime. */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, var end: Long = -1L)

final class JobRec(val jobId: Int, val span: Int, val op: Int, val start: Long,
    val callSite: String) {
  var end: Long = -1L
}

final class StageRec(val stageId: Int, val job: JobRec) {
  var name = ""
  var submitted = 0L
  var firstLaunch = Long.MaxValue
  var tasks = 0L
  var failedTasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output = 0L

  /** The source file of the user call site that launched the stage
    * ("localCheckpoint at Dedup.scala:42" -> "Dedup"): the SQL
    * execution's call site when there is one, else the stage's own. */
  def site: String = {
    val cs = if (job.callSite.nonEmpty) job.callSite else name
    val at = cs.lastIndexOf(" at ")
    val s = if (at >= 0) cs.substring(at + 4) else cs
    s.takeWhile(_ != ':').stripSuffix(".scala")
  }
}

/** Counts jobs, stages and tasks, and the stages' aggregated task
  * metrics, tagged with the span and op that launched them (read from
  * the job's local properties). */
final class PerfListener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[Int, StageRec]()
  private val stageJob = mutable.Map[Int, JobRec]()
  // SQL execution id -> the user call site that started it; the jobs AQE
  // submits from its own threads carry the id but no user frame
  private val execSite = mutable.Map[String, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execSite(s.executionId.toString) = s.description }
    case _ =>
  }

  private def prop(p: java.util.Properties, k: String): Int =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRec(e.jobId, prop(e.properties, Tracer.SpanKey),
      prop(e.properties, Tracer.OpKey), e.time,
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(execSite.get).getOrElse(""))
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach { j =>
      val r = stages.getOrElseUpdate(e.stageInfo.stageId, new StageRec(e.stageInfo.stageId, j))
      r.name = e.stageInfo.name
      r.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stages.get(e.stageId).foreach(r => r.firstLaunch = math.min(r.firstLaunch, e.taskInfo.launchTime))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != Success) stages.get(e.stageId).foreach(_.failedTasks += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { r =>
      val m = e.stageInfo.taskMetrics
      r.tasks += e.stageInfo.numTasks
      if (m != null) {
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.input += m.inputMetrics.bytesRead
        r.output += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** In-memory spans around the benchmark's own calls into graft. The
  * listener is attached only while a traced op runs, so a traced run can
  * time the same ops untraced and traced and report the difference. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  /** Whether the ops run now are traced; workloads switch it per phase. */
  var active = false
  val spans = mutable.ArrayBuffer[Span]()
  val listener = new PerfListener
  private var current: Option[Span] = None
  private var nextOp = 0

  private def open(name: String, op: Int): Span = {
    val s = Span(spans.size, name, current.map(_.id).getOrElse(-1), op, System.nanoTime())
    spans += s
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    current = Some(s)
    s
  }

  private def close(s: Span, parent: Option[Span]): Unit = {
    s.end = System.nanoTime()
    current = parent
    sc.setLocalProperty(Tracer.SpanKey, parent.map(_.id.toString).orNull)
  }

  /** Runs one benchmark op; returns (result, wall ns, traced). It is
    * traced when tracing is on and the phase is `active`, or `always`. */
  def op[A](name: String, always: Boolean = false)(body: => A): (A, Long, Boolean) = {
    val id = nextOp
    nextOp += 1
    val traced = enabled && (always || active)
    if (!traced) {
      val t0 = System.nanoTime()
      val a = body
      return (a, System.nanoTime() - t0, false)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tracer.OpKey, id.toString)
    val s = open(name, id)
    try {
      val a = body
      close(s, None)
      (a, s.end - s.start, true)
    } finally {
      if (s.end < 0) close(s, None)
      sc.setLocalProperty(Tracer.OpKey, null)
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
    }
  }

  /** A layer span inside the current traced op; a no-op otherwise. */
  def span[A](name: String)(body: => A): A = current match {
    case None => body
    case Some(parent) =>
      val s = open(name, parent.op)
      try body finally close(s, Some(parent))
  }

  def tracedOps(name: String): Seq[Span] = spans.filter(s => s.parent < 0 && s.name == name).toSeq

  /** Wall ns per span name, summed over traced ops. */
  def spanNs(name: String): Long = spans.filter(_.name == name).map(s => s.end - s.start).sum

  private def spanName(id: Int): String = if (id >= 0 && id < spans.size) spans(id).name else ""

  def jobsIn(spanName0: String): Seq[JobRec] =
    listener.jobs.values.filter(j => spanName(j.span) == spanName0).toSeq

  /** Engine-wide per-op averages over traced `opName` ops (the
    * `engine.*` layer). */
  def engineMetrics(opName: String): Map[String, Double] = {
    val ops = tracedOps(opName)
    val n = math.max(ops.size, 1).toDouble
    val opIds = ops.map(_.op).toSet
    val jobs = listener.jobs.values.filter(j => opIds.contains(j.op)).toSeq
    val st = listener.stages.values.filter(s => opIds.contains(s.job.op)).toSeq
    // op wall not covered by any running job: driver-side planning,
    // collection and file work between jobs
    val driverMs = ops.map { o =>
      val wallMs = (o.end - o.start) / 1e6
      val iv = jobs.filter(_.op == o.op).filter(_.end >= 0).map(j => (j.start, j.end)).sortBy(_._1)
      var covered, curS, curE = 0L
      var open = false
      iv.foreach { case (s, e) =>
        if (!open || s > curE) { if (open) covered += curE - curS; curS = s; curE = e; open = true }
        else curE = math.max(curE, e)
      }
      if (open) covered += curE - curS
      math.max(0.0, wallMs - covered)
    }.sum
    def sum(f: StageRec => Double) = st.map(f).sum / n
    Map(
      "engine.jobs" -> jobs.size / n,
      "engine.stages" -> st.size / n,
      "engine.tasks" -> sum(_.tasks.toDouble),
      "engine.task_run_ms" -> sum(_.runMs.toDouble),
      "engine.task_cpu_ms" -> sum(_.cpuNs / 1e6),
      "engine.gc_ms" -> sum(_.gcMs.toDouble),
      "engine.sched_wait_ms" -> sum(s =>
        if (s.firstLaunch == Long.MaxValue) 0.0 else math.max(0L, s.firstLaunch - s.submitted).toDouble),
      "engine.driver_ms" -> driverMs / n,
      "engine.shuffle_write_bytes" -> sum(_.shuffleWrite.toDouble),
      "engine.shuffle_read_bytes" -> sum(_.shuffleRead.toDouble),
      "engine.spill_bytes" -> sum(_.spill.toDouble),
      "engine.input_bytes" -> sum(_.input.toDouble),
      "engine.output_bytes" -> sum(_.output.toDouble),
      "engine.failed_tasks" -> sum(_.failedTasks.toDouble))
  }

  /** Per-op task cpu ms and shuffle bytes by stage call-site file, over
    * traced `opName` ops; plus the jobs launched from each file. */
  def siteMetrics(opName: String, files: Seq[String]): Map[String, Double] = {
    val ops = tracedOps(opName)
    val n = math.max(ops.size, 1).toDouble
    val opIds = ops.map(_.op).toSet
    val st = listener.stages.values.filter(s => opIds.contains(s.job.op)).toSeq
    files.flatMap { f =>
      val mine = st.filter(_.site == f)
      Seq(s"site.$f.task_cpu_ms" -> mine.map(_.cpuNs / 1e6).sum / n,
        s"site.$f.shuffle_bytes" -> mine.map(s => (s.shuffleWrite + s.shuffleRead).toDouble).sum / n,
        s"site.$f.jobs" -> mine.map(_.job.jobId).toSet.size / n)
    }.toMap
  }

  /** Spans and their listener counts as JSON-ready rows. */
  def dump: Seq[Map[String, Any]] = {
    val byJobSpan = listener.jobs.values.groupBy(_.span)
    val bySpanStages = listener.stages.values.groupBy(_.job.span)
    spans.toSeq.map { s =>
      val st = bySpanStages.getOrElse(s.id, Nil).toSeq
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ns" -> s.start, "end_ns" -> s.end,
        "jobs" -> byJobSpan.getOrElse(s.id, Nil).size,
        "stages" -> st.size, "tasks" -> st.map(_.tasks).sum,
        "task_cpu_ms" -> st.map(_.cpuNs / 1e6).sum,
        "shuffle_write_bytes" -> st.map(_.shuffleWrite).sum,
        "sites" -> st.groupBy(_.site).map { case (k, v) => k -> v.map(_.cpuNs / 1e6).sum },
        "stage_names" -> st.map(x => s"${x.name} | ${x.job.callSite}"))
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val OpKey = "perfbench.op"
}
