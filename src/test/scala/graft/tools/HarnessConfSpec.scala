package graft.tools

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PrefixPass

/** The harness seam: scale-conditional tuning, the between-query
  * cleanup every harness main relies on, and a source gate that keeps
  * session building and run-time knobs from being copied back into
  * the mains. */
class HarnessConfSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val ReadAhead = "spark.unsafe.sorter.spill.read.ahead.enabled"

  test("tuning keeps spill read-ahead on for a small fixture") {
    val dir = graft.TestTmp.dir("harness_small")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "t.parquet"), "tiny")
    assert(HarnessConf.tuning(dir) == Map(ReadAhead -> "true"))
    assert(!HarnessConf.tuning(dir).contains("spark.buffer.pageSize"))
    assert(!HarnessConf.isBigFixture(dir))
  }

  test("tuning turns spill read-ahead off past 256 MB of fixture") {
    val dir = graft.TestTmp.dir("harness_big")
    // sparse: setLength allocates no data blocks
    val raf = new java.io.RandomAccessFile(new File(dir, "big.bin"), "rw")
    try raf.setLength(300L * 1024 * 1024) finally raf.close()
    assert(HarnessConf.tuning(dir) == Map(ReadAhead -> "false"))
    assert(HarnessConf.isBigFixture(dir))
    new File(dir, "big.bin").delete()
  }

  test("cleanup releases persisted, checkpointed, cached and PrefixPass " +
      "blocks and drops graft_ views") {
    val s = spark
    def persisted = s.sparkContext.getPersistentRDDs.keySet
    // rdd and ck stay reachable to the end: getPersistentRDDs keeps
    // weak references, so an unreachable RDD could vanish from it
    // without any cleanup
    val rdd = s.sparkContext.parallelize(1 to 100).persist()
    rdd.count()
    s.range(1000).persist().count()
    val before = persisted
    val ck = s.range(500).localCheckpoint()
    val ckIds = persisted -- before
    s.range(10).createOrReplaceTempView("harness_cached")
    s.table("harness_cached").cache().count()
    PrefixPass.withRowNumber(s.range(200).toDF(), Seq(col("id")), "rn")
      ._1.count()
    s.range(3).createOrReplaceTempView("graft_x")
    assert(persisted(rdd.id) && ckIds.nonEmpty && ckIds.subsetOf(persisted))
    assert(!s.sharedState.cacheManager.isEmpty)
    try {
      HarnessConf.cleanup(s)
      assert(persisted.isEmpty)
      assert(rdd.getStorageLevel == StorageLevel.NONE)
      assert(s.sharedState.cacheManager.isEmpty)
      assert(!s.catalog.listTables().collect()
        .exists(_.name.startsWith("graft_")))
    } finally s.catalog.dropTempView("harness_cached")
    java.lang.ref.Reference.reachabilityFence(ck)
  }

  // ---- source gate over src/main/scala ----

  private def mainSources: Seq[File] = {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: $root")
    java.nio.file.Files.walk(root.toPath).iterator().asScala
      .map(_.toFile).filter(_.getName.endsWith(".scala")).toSeq
  }

  private def read(f: File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  /** Every env var the program reads, with why it stays. */
  private val EnvAllowlist = Set(
    "SPARK_GRAFT_SF_DIR",           // fixture of Bench / JobTrace
    "SPARK_GRAFT_CPUS",             // local threads of every harness session
    "GRAFT_BENCH_REPEATS",          // Bench protocol (SCALE.md ×100 runs)
    "GRAFT_BENCH_REPEAT_THRESHOLD", // Bench protocol
    "GRAFT_BENCH_RECYCLE",          // Bench protocol
    "GRAFT_SCALE_SHAPE",            // ScaleBench: time only the registry shape
    "GRAFT_GC_LOG")                 // build.sbt: GC log file of forked runs

  /** Every `graft.*` session conf key the program reads. */
  private val ConfAllowlist =
    Set("graft.broadcast.rowLimit", "graft.prefixpass.naive")

  test("gate: only HarnessConf builds a SparkSession") {
    val builders = mainSources
      .filter(f => read(f).contains("SparkSession.builder"))
      .map(_.getPath.replace(File.separatorChar, '/'))
    assert(builders == Seq("src/main/scala/graft/tools/HarnessConf.scala"))
  }

  test("gate: every GRAFT env var and graft.* conf key is allowlisted") {
    val envRead = """(?:sys\.env[.\w]*|System\.getenv)\(\s*"([A-Z0-9_]+)"""".r
    val sources = mainSources.map(read) :+ read(new File("build.sbt"))
    val envKeys = sources.flatMap(envRead.findAllMatchIn(_).map(_.group(1)))
      .filter(_.contains("GRAFT_")).toSet
    assert(envKeys.subsetOf(EnvAllowlist), envKeys -- EnvAllowlist)
    val confKey = """"(graft\.[A-Za-z0-9_.]+)"""".r
    val confKeys = mainSources.map(read)
      .flatMap(confKey.findAllMatchIn(_).map(_.group(1))).toSet
    assert(confKeys.subsetOf(ConfAllowlist), confKeys -- ConfAllowlist)
  }
}
