package graft.tools

import org.apache.spark.sql.SparkSession

/** The one seam through which every harness main (Bench, Verify,
  * Explain, ScaleBench, GenScale, JobTrace) builds its session and
  * cleans up between queries, plus the session-level stability tuning
  * from the round-15 heap-margin campaign — made SCALE-CONDITIONAL in
  * round 16 after the A/B attribution of the sf0.1 floor slip
  * (SCALE.md "Round-16 floor attribution"):
  *
  *  - spill read-ahead: the read-ahead thread allocates its buffers
  *    inside JNI critical regions; under 32 heavily-spilling tasks
  *    those regions starve the JDK-17 G1 GCLocker (measured "Retried
  *    waiting for GCLocker too often" → spurious OOM at the ×100
  *    fixture). But the SAME read-ahead measurably HELPS the
  *    spill-heavy dedup queries at small SF (A/B full-registry runs:
  *    q113 2.82→1.89 s, q163 3.87→2.99, q112/q232/q233 −0.4..−0.8 s
  *    with read-ahead on at sf0.1, where spills are small and the
  *    GCLocker never starves). So the off-switch keys on the MEASURED
  *    fixture size — the GCLocker-starvation regime needs big spills.
  *  - spark.buffer.pageSize is NOT overridden. An experiment pinning
  *    it to 2 MB to avoid humongous G1 allocations backfired: the
  *    many-small-pages regime made q247's big hash relations OOM where
  *    the default page sizing ran clean (TaskMemoryManager "Failed to
  *    allocate a page" storms).
  *
  * The companion JVM-level flags live in build.sbt javaOptions /
  * tools/run_direct.sh: -XX:+UnlockDiagnosticVMOptions
  * -XX:GCLockerRetryAllocationCount=64.
  */
object HarnessConf {

  /** Fixture-size threshold above which spill read-ahead is disabled:
    * the ×100 fixture is ~1.6 GB, sf0.1 is ~18 MB — the starvation
    * regime sits orders of magnitude above the floor fixtures. */
  private val ReadAheadOffBytes = 256L * 1024 * 1024

  /** Same threshold, exported for the harness mains' other
    * scale-conditional defaults (Bench's inter-query GC policy:
    * "auto" protects the sf0.1 floor from per-query Full-GC cache
    * clearing, but at ×100 the deterministic broadcast reclamation is
    * worth the GC — measured: two auto-mode ×100 sweeps ran +10-16%
    * over the round-15 always-GC pair on shared queries, with the
    * broadcast-heavy MinHash family carrying the regression). */
  def isBigFixture(sfDir: String): Boolean =
    dirBytes(sfDir) > ReadAheadOffBytes

  private def dirBytes(dir: String): Long =
    try {
      // full recursive walk (round-16 advice): a nested/partitioned
      // parquet fixture under-measured by a one-level listing would
      // be misclassified as small and re-enable spill read-ahead in
      // exactly the big-spill GCLocker-starvation regime the
      // scale-conditional default exists to avoid
      def walk(f: java.io.File): Long =
        if (f.isDirectory) {
          val kids = f.listFiles()
          if (kids == null) 0L else kids.map(walk).sum
        } else f.length()
      val d = new java.io.File(dir)
      if (!d.isDirectory) 0L else walk(d)
    } catch { case _: Throwable => 0L }

  /** Tuning for a session that will read `sfDir`. */
  def tuning(sfDir: String): Map[String, String] =
    Map("spark.unsafe.sorter.spill.read.ahead.enabled" ->
      (!isBigFixture(sfDir)).toString)

  /** Local worker threads (= shuffle width) of a harness session:
    * SPARK_GRAFT_CPUS, else every core the JVM sees. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** A harness session that will read `sfDir`: `local[cpus]` with one
    * shuffle partition per core, UTC, [[tuning]], no UI, WARN logs. */
  def session(sfDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config(tuning(sfDir))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Release everything one query left behind so the next starts
    * clean. Without this, ~80 queries' worth of localCheckpoint /
    * persist blocks accumulate in storage memory and later queries
    * run execution-memory-starved (measured 3-5x inflation on the
    * heavy text queries late in a registry run). */
  def cleanup(spark: SparkSession): Unit = {
    graft.operators.PrefixPass.releaseAll()
    // BLOCKING unpersist (round 15): with unpersist(false) the next
    // query starts allocating while the previous query's multi-GB
    // checkpoint blocks are still draining — measured as the
    // q245→q247 in-context hard OOM at ×100 (two copies of the corpus
    // shingle table alive at once)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.sharedState.cacheManager.clearCache()
    // memory-sink tables and other per-query temp views
    try spark.catalog.listTables().collect()
      .filter(t => t.name.startsWith("graft_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
    catch { case _: Throwable => () }
  }
}
