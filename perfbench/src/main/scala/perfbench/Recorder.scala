package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One completed stage, as the listener saw it. `name` is Spark's call-site
  * short form, "<method> at <File>.scala:<line>". */
final case class StageRec(stageId: Int, name: String, tasks: Int, submitMs: Long,
    completeMs: Long, cpuS: Double, gcS: Double, shuffleWriteBytes: Long,
    shuffleReadBytes: Long, spillBytes: Long, taskRecordsRead: Seq[Long])

/** One finished job: its wall interval and the stages it ran (skipped
  * stages excluded), with the call site of the action that caused it: the
  * SQL execution's for SQL jobs (AQE submits their stages from a thread
  * pool, whose own call site says nothing), else the result stage's. */
final case class JobRec(jobId: Int, startMs: Long, endMs: Long, callSite: String,
    stages: Seq[StageRec])

/** A timed region of the benchmark, with the span that caused it (-1: none). */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Stage/job listener plus in-memory spans for the traced run.
  *
  * Spans are recorded around the benchmark's calls into each layer and kept
  * in memory; [[trace]] is written out when the run ends. Before any
  * listener data is read, the bus is drained with `waitUntilEmpty`, so no
  * stage of a finished action is missing and no fixed sleep is needed. */
final class Recorder(sc: SparkContext) extends SparkListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int], String)]()
  private val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val stageDone = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  private val taskReads = new java.util.concurrent.ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]()
  private val spans = ArrayBuffer[Span]()
  private val spanJobs = ArrayBuffer[(Int, JobRec)]()
  private var open = List.empty[Int]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execSites.put(x.executionId, x.description)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execSites.get(id.toLong))).orNull
    jobStarts.put(e.jobId, (e.time, e.stageInfos.map(_.stageId), site))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) taskReads.synchronized {
      taskReads.computeIfAbsent(e.stageId, _ => ArrayBuffer[Long]()) +=
        e.taskMetrics.shuffleReadMetrics.recordsRead
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val reads = taskReads.synchronized {
      Option(taskReads.remove(si.stageId)).map(_.toSeq).getOrElse(Seq.empty)
    }
    stageDone.put(si.stageId, StageRec(si.stageId, si.name, si.numTasks,
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
      m.executorCpuTime / 1e9, m.jvmGCTime / 1e3, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, reads))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (start, stageIds, sqlSite) =>
      val stages = stageIds.flatMap(id => Option(stageDone.get(id)))
      val site = Option(sqlSite).getOrElse(stageIds.sorted.lastOption
        .flatMap(id => Option(stageDone.get(id))).map(_.name).getOrElse(""))
      jobs.add(JobRec(e.jobId, start, e.time, site, stages))
    }

  def attach(): Unit = sc.addSparkListener(this)
  def detach(): Unit = { drain(); sc.removeSparkListener(this) }

  /** Seconds `f` takes with the listener detached: the untraced reference
    * that traced spans are compared against. */
  def untraced(f: => Unit): Double = {
    detach()
    val t0 = System.nanoTime()
    try f finally attach()
    (System.nanoTime() - t0) / 1e9
  }
  def drain(): Unit = org.apache.spark.perfbench.BusDrain.drain(sc)

  /** Runs `f` inside a span named `name`; returns its value, the span and
    * the jobs that started inside it. */
  def span[T](name: String)(f: => T): (T, Span, Seq[JobRec]) = {
    val id = spans.size
    val parent = open.headOption.getOrElse(-1)
    spans += Span(id, parent, name, System.nanoTime(), 0L)
    open = id :: open
    val wallStartMs = System.currentTimeMillis()
    val v = try f finally open = open.tail
    val s = spans(id).copy(endNs = System.nanoTime())
    spans(id) = s
    drain()
    val wallEndMs = System.currentTimeMillis()
    import scala.jdk.CollectionConverters._
    val inside = jobs.asScala.filter(j => j.startMs >= wallStartMs && j.startMs <= wallEndMs)
      .toSeq.sortBy(_.jobId)
    spanJobs ++= inside.map(id -> _)
    (v, s, inside)
  }

  /** Every span recorded so far and the Spark jobs inside each. */
  def trace: Map[String, Seq[Map[String, Any]]] = Map(
    "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
    "jobs" -> spanJobs.toSeq.map { case (span, j) => Map("span" -> span, "job" -> j.jobId,
      "call_site" -> j.callSite, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "stages" -> j.stages.size, "tasks" -> j.stages.map(_.tasks).sum) })
}

object Recorder {
  /** Length of the union of the jobs' wall intervals, in seconds. */
  def coveredSeconds(js: Seq[JobRec]): Double = {
    var covered = 0L
    var end = Long.MinValue
    js.map(j => (j.startMs, j.endMs)).sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered / 1e3
  }
}
