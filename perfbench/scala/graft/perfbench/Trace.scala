package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.json4s._
import org.json4s.JsonDSL._

/** One clock for the client's spans and the listener's events: epoch
  * microseconds. Spark stamps events with `currentTimeMillis`; the
  * client measures with `nanoTime` and shifts by a fixed offset. */
object Clock {
  private val offsetUs =
    System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs: Long = System.nanoTime() / 1000L + offsetUs
}

/** A span recorded at one of the benchmark's own call sites
  * (pass → row → build | plan | action | write | prep). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e6
}

final class JobRec(val id: Int, val row: Long, val parent: Long,
    val start: Long) {
  @volatile var end: Long = -1L
}

final class StageRec(val id: Int, val attempt: Int, val job: Int) {
  var submitted = 0L; var completed = 0L
  var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L
  var shuffleRecords = 0L; var fetchWaitMs = 0L; var spill = 0L
  var inBytes = 0L; var inRecords = 0L; var outBytes = 0L
}

/** Task span, kept compact: there are thousands per run. */
final case class TaskRec(task: Long, stage: Int, attempt: Int,
    launch: Long, finish: Long)

/** Spark jobs, stages and tasks as child spans of the row that ran
  * them. A job finds its row through the job group the client sets
  * (`setJobGroup(rowSpanId)`) and its phase span through a local
  * property; both are copied into the job's properties at submission,
  * so attribution does not depend on when the bus delivers the event.
  * Threads a row starts inherit both. */
final class Collector extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  val tasks = mutable.ArrayBuffer[TaskRec]()

  private def stage(id: Int, attempt: Int): StageRec =
    stages.computeIfAbsent((id, attempt),
      _ => new StageRec(id, attempt, stageJob.getOrDefault(id, -1)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String): Long = Option(e.properties)
      .flatMap(p => Option(p.getProperty(k))).flatMap(_.toLongOption)
      .getOrElse(0L)
    jobs.put(e.jobId, new JobRec(e.jobId, prop(Collector.GroupKey),
      prop(Collector.SpanKey), e.time * 1000L))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000L)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val s = stage(si.stageId, si.attemptNumber())
    s.synchronized {
      s.submitted = si.submissionTime.getOrElse(0L) * 1000L
      s.completed = si.completionTime.getOrElse(0L) * 1000L
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId, e.stageAttemptId)
    val ti = e.taskInfo
    s.synchronized {
      s.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.inRecords += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
      }
    }
    tasks.synchronized {
      tasks += TaskRec(ti.taskId, e.stageId, e.stageAttemptId,
        ti.launchTime * 1000L, ti.finishTime * 1000L)
    }
  }

}

object Collector {
  val GroupKey = "spark.jobGroup.id"
  val SpanKey = "perfbench.span"
}

/** The client side of the trace. Spans are kept in memory and written
  * when the run ends. With `traced` false the same call sites still
  * time each row (its latency is an end-to-end metric) but no listener
  * is attached and no job properties are set. */
final class Tracer(sc: SparkContext) {
  private var nextId = 0L
  val spans = mutable.ArrayBuffer[Span]()
  var collector: Option[Collector] = None
  /** Set when a row's jobs did not all report job-end in time, or the
    * bus dropped events: the per-layer numbers are then incomplete. */
  var invalid: List[String] = Nil

  def newId(): Long = synchronized { nextId += 1; nextId }

  private def record(s: Span): Span = synchronized { spans += s; s }

  /** Every collector attached so far, one per traced pass. */
  private val collectors = mutable.ArrayBuffer[Collector]()

  def attach(): Unit = {
    detach()
    val c = new Collector
    org.apache.spark.perfbench.BusProbe.addListener(sc, c)
    collectors += c
    collector = Some(c)
  }

  def detach(): Unit = {
    collector.foreach(org.apache.spark.perfbench.BusProbe.removeListener(sc, _))
    collector = None
  }

  /** Time `f` as a span; in a traced pass, jobs it submits name this
    * span as their parent. */
  def span[T](kind: String, name: String, parent: Long)(f: => T): (T, Span) = {
    val id = newId()
    if (collector.isDefined) sc.setLocalProperty(Collector.SpanKey, id.toString)
    val t0 = Clock.nowUs
    var done: Span = null
    val r = try f finally {
      done = record(Span(id, parent, kind, name, t0, Clock.nowUs))
      if (collector.isDefined) sc.setLocalProperty(Collector.SpanKey, null)
    }
    (r, done)
  }

  /** A row: its jobs carry the row span id as their job group. The
    * row span closes only after the listener has seen job-end for
    * every job of the group, so late bus delivery cannot cut a row's
    * jobs out of its trace. */
  def row[T](name: String, parent: Long)(f: Long => T): (T, Span) = {
    val id = newId()
    val t0 = Clock.nowUs
    if (collector.isDefined)
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
    val r = try f(id) finally if (collector.isDefined) sc.clearJobGroup()
    val end = Clock.nowUs
    collector.foreach(c => awaitJobEnds(c, id, name))
    (r, record(Span(id, parent, "row", name, t0, end)))
  }

  private def awaitJobEnds(c: Collector, row: Long, name: String): Unit = {
    val deadline = System.currentTimeMillis() + Tracer.JobEndWaitMs
    def open = c.jobs.values.asScala.exists(j => j.row == row && j.end < 0)
    org.apache.spark.perfbench.BusProbe.drain(sc, Tracer.JobEndWaitMs)
    while (open && System.currentTimeMillis() < deadline) Thread.sleep(5)
    if (open) invalid ::= s"row $name: job-end not seen"
  }

  def checkDropped(): Unit = {
    val d = org.apache.spark.perfbench.BusProbe.droppedEvents(sc)
    if (d > 0) invalid ::= s"listener bus dropped $d events"
  }

  /** Every span as a JSON line: the client's, then Spark's jobs,
    * stages and tasks under the spans that caused them. */
  def dump(): Seq[JValue] = {
    val client = spans.map(s => ("id" -> s"c${s.id}") ~
      ("parent" -> s"c${s.parent}") ~ ("kind" -> s.kind) ~
      ("name" -> s.name) ~ ("start_us" -> s.start) ~ ("end_us" -> s.end): JValue)
    val spark = collectors.toSeq.flatMap { c =>
      val jobs = c.jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
        ("id" -> s"j${j.id}") ~ ("parent" -> s"c${j.parent}") ~
          ("kind" -> "job") ~ ("row" -> s"c${j.row}") ~
          ("start_us" -> j.start) ~ ("end_us" -> j.end): JValue)
      val stages = c.stages.values.asScala.toSeq.sortBy(s => (s.id, s.attempt))
        .map(s => ("id" -> s"s${s.id}.${s.attempt}") ~
          ("parent" -> s"j${s.job}") ~ ("kind" -> "stage") ~
          ("tasks" -> s.tasks) ~ ("start_us" -> s.submitted) ~
          ("end_us" -> s.completed): JValue)
      val tasks = c.tasks.synchronized(c.tasks.toList).map(t =>
        ("id" -> s"t${t.task}") ~ ("parent" -> s"s${t.stage}.${t.attempt}") ~
          ("kind" -> "task") ~ ("start_us" -> t.launch) ~
          ("end_us" -> t.finish): JValue)
      jobs ++ stages ++ tasks
    }
    client.toSeq ++ spark
  }
}

object Tracer {
  val JobEndWaitMs = 10000L

  /** Total length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }
}

/** Per-layer sums over one traced pass: the client's spans of the pass
  * and the Spark jobs, stages and tasks that ran under its rows. */
object Layers {
  private val MB = 1048576.0

  def of(c: Collector, spans: Seq[Span], wallS: Double,
      cpus: Int): Map[String, Double] = {
    def sum(kind: String): Double =
      spans.filter(_.kind == kind).map(_.seconds).sum
    val rows = spans.filter(_.kind == "row")
    val rowIds = rows.map(_.id).toSet
    val jobs = c.jobs.values.asScala.toSeq.filter(j => rowIds(j.row))
    val jobIds = jobs.map(_.id).toSet
    val stages = c.stages.values.asScala.toSeq
      .filter(s => jobIds(s.job) && s.tasks > 0)
    val submitted = stages.map(s => (s.id, s.attempt) -> s.submitted).toMap
    val tasks = c.tasks.synchronized(c.tasks.toList)
      .filter(t => submitted.contains((t.stage, t.attempt)))
    def tot(f: StageRec => Long): Double =
      stages.map(s => s.synchronized(f(s))).sum.toDouble
    val buildIds = spans.filter(_.kind == "build").map(_.id).toSet
    // a row's self time: the part of it no Spark job of the row covers
    val driverSelfUs = rows.map { r =>
      r.end - r.start - Tracer.covered(
        jobs.filter(_.row == r.id).map(j => (j.start, j.end)), r.start, r.end)
    }.sum
    val nStages = math.max(1, stages.size).toDouble
    val taskCpuS = tot(_.cpuNs) / 1e9
    Map(
      "operators.build_s" -> sum("build"),
      "operators.build_jobs" -> jobs.count(j => buildIds(j.parent)).toDouble,
      "planner.plan_s" -> sum("plan"),
      "exec.action_s" -> (sum("action") + sum("write")),
      "exec.driver_self_s" -> driverSelfUs / 1e6,
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> stages.size.toDouble,
      "exec.tasks" -> tot(_.tasks.toLong),
      "exec.tasks_per_stage" -> tot(_.tasks.toLong) / nStages,
      "exec.one_task_stage_frac" -> stages.count(_.tasks == 1) / nStages,
      "exec.task_run_s" -> tot(_.runMs) / 1e3,
      "exec.task_cpu_s" -> taskCpuS,
      "exec.cpu_util" -> taskCpuS / (wallS * cpus),
      "exec.task_wait_s" -> tasks.map(t =>
        math.max(0L, t.launch - submitted((t.stage, t.attempt)))).sum / 1e6,
      "exec.gc_s" -> tot(_.gcMs) / 1e3,
      "shuffle.write_mb" -> tot(_.shuffleWrite) / MB,
      "shuffle.read_mb" -> tot(_.shuffleRead) / MB,
      "shuffle.records" -> tot(_.shuffleRecords),
      "shuffle.fetch_wait_s" -> tot(_.fetchWaitMs) / 1e3,
      "shuffle.spill_mb" -> tot(_.spill) / MB,
      "sources.scan_mb" -> tot(_.inBytes) / MB,
      "sources.scan_rows" -> tot(_.inRecords),
      "sink.write_s" -> sum("write"),
      "sink.out_mb" -> tot(_.outBytes) / MB,
      "api.mr_step_s" ->
        rows.filter(r => Main.MrRows(r.name)).map(_.seconds).sum,
      "api.protocol_roundtrip_s" -> sum("readback"),
      "prep.s" -> sum("prep")) ++
      spans.filter(_.kind == "prep").map(s => s"prep.${s.name}_s" -> s.seconds)
  }
}
