package perfbench

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.BusSync
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.SparkEntry
import graft.ml.{FoodSchema, Serve, Trainer}
import graft.operators.PrefixPass
import graft.serving.ApiServer
import graft.sources.Ingest
import graft.streaming.BatchWriter
import graft.tools.{HarnessConf, PeakHeap}

/** The JVM side of the benchmark: set-up, the timed calls into the
  * engine's public entry points, and (in traced runs) the engine
  * counters and in-process timings. `run.py` generates the inputs,
  * drives the serving load, checks the outputs and prints the metrics;
  * this side reports raw figures as `@pb <kind> <json>` lines.
  *
  * Usage: Harness --workload pipeline|registry --dir <work dir>
  *   --cpus <n> --trace 0|1
  */
object Harness {

  private val SetupRounds = 3
  private val mapper = new ObjectMapper()
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case x => x
  }

  private def emit(kind: String, fields: Map[String, Any]): Unit = {
    println(s"@pb $kind ${mapper.writeValueAsString(toJava(fields))}")
    System.out.flush()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def windowFields(w: Window): Map[String, Any] = Map(
    "wall_ms" -> w.wallMs, "jobs" -> w.jobs, "tasks" -> w.tasks,
    "busy_ms" -> w.busyMs, "gap_ms" -> w.gapMs, "job_ms" -> w.jobMs,
    "run_ms" -> w.runMs, "cpu_ns" -> w.cpuNs,
    "shuffle_bytes" -> w.shuffleBytes, "spill_bytes" -> w.spillBytes,
    "planning_ms" -> w.planningMs)

  /** A session as the repo's harness mains build it, warmed by one job. */
  private def newSession(cpus: Int, tuning: Map[String, String]): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(tuning)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.range(1000000).selectExpr("sum(id)").collect()
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Builds a session SetupRounds times, stopping all but the last,
    * and times each round until the session is warm. Round 1 is timed
    * from JVM start, so it also holds class loading and the first
    * SparkContext; the later rounds build a session in a warm JVM. */
  private def timedSetups(
      cpus: Int, tuning: Map[String, String]): (SparkSession, Seq[Double]) = {
    val times = (1 to SetupRounds).map { round =>
      val t0 =
        if (round == 1) ManagementFactory.getRuntimeMXBean.getStartTime
        else System.currentTimeMillis()
      val s = newSession(cpus, tuning)
      val secs = (System.currentTimeMillis() - t0) / 1e3
      if (round < SetupRounds) stopSession(s)
      secs
    }
    (SparkSession.active, times)
  }

  /** What the registry leaves between queries: the PrefixPass caches,
    * other persisted RDDs, the SQL cache and the graft_ temp views of
    * the streaming queries. */
  private def releaseQuery(spark: SparkSession): Unit = {
    PrefixPass.releaseAll()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  private def traceOn(s: SparkSession): EngineTrace = {
    val t = new EngineTrace
    s.sparkContext.addSparkListener(t)
    s.listenerManager.register(t)
    t
  }

  private def get(port: Int, path: String): (Int, String) = {
    val r = http.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def healthy(port: Int): Boolean = {
    val (code, body) = get(port, "/health")
    code == 200 && body.contains("\"overall_status\":\"healthy\"")
  }

  /** Whether the ingest read fell back to schema inference. */
  private def inferred(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    }.exists {
      case h: HadoopFsRelation =>
        h.options.exists { case (k, v) =>
          k.equalsIgnoreCase("inferSchema") && v == "true" }
      case _ => false
    }

  /** The reference pipeline: JSON messages in `input` (the file
    * stand-in for the Kafka topic) -> 2,000-row batch files -> ingest
    * read -> five cumulative models -> ApiServer reporting healthy.
    * Returns its figures and the running server. */
  private def runPipeline(
      spark: SparkSession, input: String, out: String,
      spans: Spans): (Map[String, Any], ApiServer) = {
    val marks = ArrayBuffer[(String, Long, Long)](
      ("start", System.currentTimeMillis(), System.nanoTime()))
    def mark(stage: String): Unit =
      marks += ((stage, System.currentTimeMillis(), System.nanoTime()))
    val query = spans("streaming.BatchWriter.writeCountBatches") {
      val q = BatchWriter.writeCountBatches(
        spark.readStream.schema(FoodSchema.schema).json(input), s"$out/batches")
      q.awaitTermination()
      q
    }
    mark("batchwriter")
    val df = spans("sources.Ingest.readCsvWithFallback") {
      Ingest.readCsvWithFallback(spark, s"$out/batches/batch=*", FoodSchema.schema)
    }
    mark("ingest")
    val trained = spans("ml.Trainer.trainAll") {
      Trainer.trainAll(df, Seq(FoodSchema.descriptionCol), s"$out/models")
    }
    mark("train")
    val server = spans("serving.ApiServer.load") {
      new ApiServer(spark, s"$out/models").start()
    }
    mark("api_load")
    val ok = spans("serving.ApiServer.health")(healthy(server.boundPort))
    mark("health")
    val stageSecs = marks.zip(marks.tail).map { case (a, b) =>
      b._1 -> (b._3 - a._3) / 1e9 }.toMap
    val bounds = marks.map { case (n, ms, _) => n -> ms }.toMap
    (Map(
      "pipeline_s" -> (marks.last._3 - marks.head._3) / 1e9,
      "stages" -> stageSecs,
      "bounds_ms" -> bounds,
      "trained" -> trained.map { case (k, n) => k.toString -> n },
      "healthy" -> ok,
      "microbatches" -> query.recentProgress.count(_.numInputRows > 0),
      "fallback" -> inferred(df),
      "out" -> out), server)
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = o("dir")
    val cpus = o("cpus").toInt
    val traced = o("trace") == "1"
    val spans = new Spans(traced)
    o("workload") match {
      case "pipeline" => pipeline(dir, cpus, traced, spans)
      case "registry" => registry(dir, cpus, traced, spans)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (traced) Files.writeString(Paths.get(s"$dir/spans-jvm.json"),
      mapper.writeValueAsString(toJava(spans.toJson)))
  }

  private def readPayloads(path: String): Seq[Map[String, Double]] =
    mapper.readTree(Files.readString(Paths.get(path))).elements().asScala
      .map(_.fields().asScala.map(e => e.getKey -> e.getValue.asDouble()).toMap)
      .toSeq

  /** The paper's system end to end in one fresh session: the pipeline
    * (timed) ends with ApiServer healthy over the artifacts it built,
    * and the server then takes run.py's open-loop load until run.py
    * sends a line on stdin. */
  private def pipeline(dir: String, cpus: Int, traced: Boolean, spans: Spans): Unit = {
    val (spark, setups) = timedSetups(cpus, Map.empty)
    val trace = if (traced) Some(traceOn(spark)) else None
    PeakHeap.install(spark.sparkContext)
    PeakHeap.reset()
    val (run, server) = spans("pipeline")(
      runPipeline(spark, s"$dir/input", s"$dir/out", spans))
    emit("pipeline", run)
    val fromMs = System.currentTimeMillis()
    emit("ready", Map("port" -> server.boundPort))
    scala.io.StdIn.readLine()
    val toMs = System.currentTimeMillis()
    val heapGb = PeakHeap.postGcPeakGb
    val layer = trace.fold(Map.empty[String, Any]) { t =>
      BusSync.drain(spark.sparkContext)
      val b = run("bounds_ms").asInstanceOf[Map[String, Long]]
      Map("engine" -> windowFields(t.window(b("start"), b("health"))),
        "train_engine" -> windowFields(t.window(b("ingest"), b("train"))),
        "load_engine" -> windowFields(t.window(fromMs, toMs))) ++
        inProcess(spark, s"$dir/out/models",
          readPayloads(s"$dir/payloads.json"), spans)
    }
    emit("result", Map("setup_s" -> setups, "peak_heap_gb" -> heapGb) ++ layer)
    server.stop()
    stopSession(spark)
  }

  /** The Serve calls behind the HTTP routes, timed in-process. */
  private def inProcess(
      spark: SparkSession, modelDir: String,
      payloads: Seq[Map[String, Double]], spans: Spans): Map[String, Any] = {
    val m = (1 to Trainer.NumModels).map(k => k -> Trainer.loadModel(modelDir, k)).toMap
    val calls: Seq[Map[String, Double] => Any] = Seq(
      p => Serve.localCluster(m(1), p),
      p => Serve.localCluster(m(2), p),
      p => Serve.localEnergy(m(4), p),
      p => Serve.localProtein(m(5), p))
    def timed(body: => Any): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e3
    }
    // first pass warms the code paths; the next two are measured
    calls.foreach(c => payloads.foreach(c))
    val scoreUs = spans("ml.Serve.local*") {
      for (_ <- 1 to 2; p <- payloads; c <- calls) yield timed(c(p))
    }
    val snapshot = s"$modelDir/reco_snapshot"
    Serve.recommend(spark, m(3), snapshot, payloads.head).collect()
    val recommendUs = spans("ml.Serve.recommend") {
      payloads.take(5).map(p => timed(Serve.recommend(spark, m(3), snapshot, p).collect()))
    }
    Map("local_score_us" -> median(scoreUs),
      "recommend_ms" -> median(recommendUs) / 1e3)
  }

  private def registry(dir: String, cpus: Int, traced: Boolean, spans: Spans): Unit = {
    val data = s"$dir/data"
    val names = Files.readAllLines(Paths.get(s"$dir/queries.txt")).asScala
      .map(_.trim).filter(_.nonEmpty).toSeq
    val (spark, setups) = timedSetups(cpus, HarnessConf.tuning(data))
    val trace = if (traced) Some(traceOn(spark)) else None
    val registry = SparkEntry.queries
    PeakHeap.install(spark.sparkContext)
    PeakHeap.reset()
    val results = names.map { name =>
      val fromMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var built = t0
      val count = Try(spans(s"registry.$name") {
        val df = spans(s"registry.$name.build")(registry(name)(spark, data))
        built = System.nanoTime()
        spans(s"registry.$name.count")(df.count())
      })
      val t1 = System.nanoTime()
      val toMs = System.currentTimeMillis()
      releaseQuery(spark)
      Map("name" -> name, "wall_s" -> (t1 - t0) / 1e9,
        "build_s" -> (built - t0) / 1e9,
        "count" -> count.toOption.getOrElse(-1L),
        "error" -> count.failed.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}").getOrElse(""),
        "from_ms" -> fromMs, "to_ms" -> toMs)
    }
    val heapGb = PeakHeap.postGcPeakGb
    val detailed = trace match {
      case None => results
      case Some(t) =>
        BusSync.drain(spark.sparkContext)
        results.map(r => r + ("engine" -> windowFields(
          t.window(r("from_ms").asInstanceOf[Long], r("to_ms").asInstanceOf[Long]))))
    }
    val oracle = SparkEntry.oracleSql
    emit("result", Map("setup_s" -> setups, "queries" -> detailed,
      "oracle" -> names.flatMap(n => oracle.get(n).map(n -> _)).toMap,
      "peak_heap_gb" -> heapGb))
    stopSession(spark)
  }
}
