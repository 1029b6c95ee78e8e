package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Per-query job trace and census: splits each registry query's wall
  * time into Spark jobs — the measured 11-18 ms/job driver floor bounds
  * the sub-second tail, so the queries worth restructuring are the ones
  * with the most JOBS, not the most data.
  *
  * Each query runs once warm (artifact builds and first-use class
  * loading never count as query jobs), then once traced. For the traced
  * run it prints one `[job]` line per job — id, wall ms, idle driver gap
  * since the previous job's end, task count, and the call site that
  * names its result stage — and one tab-separated summary row: name,
  * jobs, stages, tasks, busy ms, gap ms, sec. With no query names it
  * traces the whole registry and ends with the census: every summary
  * row sorted by job count, plus a TOTAL row. Measurement tool only.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sfDir> runMain graft.tools.JobTrace [query ...]
  */
object JobTrace {

  /** (name, jobs, stages, tasks, busy ms, gap ms, sec) */
  private type Row = (String, Int, Int, Int, Long, Long, Double)

  /** Listener state for one traced run. */
  private final class Trace extends SparkListener {
    // job id -> (start ms, end ms or -1, call site)
    val jobs = new ConcurrentHashMap[Int, (Long, Long, String)]()
    val tasks = new ConcurrentHashMap[Int, AtomicInteger]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    val stages = new AtomicInteger

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      // the result stage (created last, so highest id) is named after
      // the job's call site
      val site = j.stageInfos.maxByOption(_.stageId).fold("?")(_.name)
      jobs.put(j.jobId, (j.time, -1L, site))
      j.stageIds.foreach(s => stageToJob.put(s, j.jobId))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobs.get(j.jobId)).foreach { case (t0, _, s) =>
        jobs.put(j.jobId, (t0, j.time, s))
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val jid = stageToJob.getOrDefault(t.stageId, -1)
      if (jid >= 0)
        tasks.computeIfAbsent(jid, _ => new AtomicInteger).incrementAndGet()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = HarnessConf.session(sfDir)
    spark.range(1000000).selectExpr("sum(id)").collect()
    val names =
      if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val rows = names.flatMap { name =>
      val fn = graft.SparkEntry.queries(name)
      try fn(spark, sfDir).count()
      catch { case _: Throwable => () }
      HarnessConf.cleanup(spark)
      val trace = new Trace
      spark.sparkContext.addSparkListener(trace)
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      // let straggling listener events drain before reading the trace
      Thread.sleep(100)
      spark.sparkContext.removeSparkListener(trace)
      HarnessConf.cleanup(spark)
      if (!ok) {
        System.err.println(s"[trace] $name FAILED")
        None
      } else {
        var prevEnd = -1L
        var busy = 0L
        var gaps = 0L
        val sorted = trace.jobs.asScala.toSeq.sortBy(_._1)
        sorted.foreach { case (id, (s, e, site)) =>
          val tk = Option(trace.tasks.get(id)).map(_.get).getOrElse(0)
          val gap = if (prevEnd < 0) 0L else math.max(0L, s - prevEnd)
          if (e > 0) { busy += e - s; prevEnd = math.max(prevEnd, e) }
          gaps += gap
          println(f"[job] $id%4d ${e - s}%6d ms gap=$gap%5d tasks=$tk%4d  $site")
        }
        val row: Row = (name, sorted.size, trace.stages.get,
          trace.tasks.values.asScala.map(_.get).sum, busy, gaps, dt)
        println(fmt(row))
        Some(row)
      }
    }
    if (args.isEmpty) {
      println("# census: name\tjobs\tstages\ttasks\tbusy_ms\tgap_ms\tsec")
      rows.sortBy(-_._2).foreach(r => println(fmt(r)))
      println(fmt(("TOTAL", rows.map(_._2).sum, rows.map(_._3).sum,
        rows.map(_._4).sum, rows.map(_._5).sum, rows.map(_._6).sum,
        rows.map(_._7).sum)))
    }
    spark.stop()
  }

  private def fmt(r: Row): String =
    f"${r._1}\t${r._2}\t${r._3}\t${r._4}\t${r._5}\t${r._6}\t${r._7}%.2f"
}
