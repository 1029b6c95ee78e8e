package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine work inside one wall-clock window. `busyMs` is the union of
  * the window's job intervals, `jobMs` their plain sum. */
final case class Window(
    wallMs: Long, jobs: Int, tasks: Long, busyMs: Long, jobMs: Long,
    runMs: Long, cpuNs: Long, shuffleBytes: Long, spillBytes: Long,
    planningMs: Long) {
  def gapMs: Long = wallMs - busyMs
}

/** Counts the engine's jobs, tasks, bytes and planning time, registered
  * only in traced runs. Work is attributed to a window by the wall-clock
  * time its job (or query execution) started, so nothing needs to be
  * tagged inside the program and concurrent jobs are all counted. */
final class EngineTrace extends SparkListener with QueryExecutionListener {

  private final class Job(val start: Long) {
    var end = -1L
    var tasks, runMs, cpuNs, shuffleBytes, spillBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  // (start ms, analysis + optimization + planning ms) per execution
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageJob.get(e.stageId); j <- jobs.get(id)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    planned(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    planned(qe)

  private def planned(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) synchronized {
      plans += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
  }

  /** Work whose job or execution started in [fromMs, toMs). Call after
    * the listener bus is drained. */
  def window(fromMs: Long, toMs: Long): Window = synchronized {
    val in = jobs.values.filter(j => j.start >= fromMs && j.start < toMs).toSeq
    val spans = in.map(j => (j.start, if (j.end < 0) toMs else j.end))
      .sortBy(_._1)
    var busy, curS, curE = 0L
    var open = false
    spans.foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) busy += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) busy += curE - curS
    Window(
      wallMs = toMs - fromMs,
      jobs = in.size,
      tasks = in.map(_.tasks).sum,
      busyMs = math.min(busy, toMs - fromMs),
      jobMs = spans.map { case (s, e) => e - s }.sum,
      runMs = in.map(_.runMs).sum,
      cpuNs = in.map(_.cpuNs).sum,
      shuffleBytes = in.map(_.shuffleBytes).sum,
      spillBytes = in.map(_.spillBytes).sum,
      planningMs = plans.collect {
        case (s, ms) if s >= fromMs && s < toMs => ms
      }.sum)
  }
}

/** Spans around the benchmark's calls into each layer, kept in memory
  * and written out once at the end. Disabled, it only runs the body. */
final class Spans(enabled: Boolean) {
  private final case class Span(
      id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List(0)
  private var next = 1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = open.head
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, t0, System.nanoTime())
        open = open.tail
      }
    }

  def toJson: Seq[Map[String, Any]] = done.toSeq.sortBy(_.startNs).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }
}
