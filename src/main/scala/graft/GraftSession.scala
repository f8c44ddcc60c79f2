package graft

import java.lang.management.ManagementFactory

import com.sun.management.HotSpotDiagnosticMXBean
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

import graft.ops.{ExecClasspath, ExecMem}
import graft.plans.GraftFunctions

/** The one SparkSession factory: every main, the test session and the
  * benchmark build their session here. A session comes out configured the
  * way the engine expects — optimizer rules installed
  * ([[GraftFunctions.register]]), AQE with skew-join splitting
  * on, nanosecond-parquet compatibility, UTC, and a shuffle-partition
  * default sized to the cluster instead of Spark's fixed 200 (AQE
  * coalesces downward from there at runtime). Logs run at WARN, with the
  * unpartitioned-window warning at ERROR (see [[build]]).
  *
  * Existing sessions work too: apply [[configure]] to your own builder
  * (on a cluster, shuffle partitions ≈ 2-3× total executor cores is the
  * standard start), and every `Tables.table` call installs the optimizer
  * rules lazily. The native expressions need no registration: operators
  * build them directly, so they resolve in any session.
  *
  * Extra session confs need no env passthrough: Spark reads every
  * `spark.*` JVM system property into the session's SparkConf, so
  * `JAVA_TOOL_OPTIONS=-Dspark.k=v` reaches any main.
  *
  * Generated code is compiled once per JVM, not once per session. Spark
  * caches each Janino-compiled class by (classloader, source). Two
  * defaults made every `newSession()` of a long-lived context (one session
  * per job, as in perfbench's passes and [[graft.ops.MemoLaws]]) compile
  * its classes again: 108–131 compiles and 1.6–3.2 s of a ~5 s perfbench
  * pass, after the warm pass had compiled the same source.
  *  - Artifact isolation gives each session its own executor classloader,
  *    so the cache never hit across sessions. The engine adds no session
  *    artifact (no jar, file or class at runtime; SourceAuditSpec pins
  *    that), so isolation is off and every session shares the application
  *    classloader.
  *  - The cache held 100 entries, fewer than one pass uses, so even one
  *    session cycled the LRU; see [[CodegenCacheEntries]].
  *
  * A local session sizes Spark's memory pages to its JVM's heap regions
  * (see [[localPageBytes]]), so that the page every aggregate and sorter
  * task allocates is an ordinary young-generation array.
  */
object GraftSession {

  /** Size of the JVM-wide generated-class cache, a static conf read once
    * per JVM. Each distinct class is compiled twice, once on the driver and
    * once in a task, under different classloaders. One perfbench pass
    * takes 108–131 entries, and the seven perfbench units at sf0.001 about
    * 240 (CodegenCacheSpec). 256 still left 10–13 recompiles per
    * corpus_session pass; 1024 holds the working set with headroom. */
  private val CodegenCacheEntries = 1024

  /** Tungsten page size for a session whose tasks run in this JVM (a
    * `local` master): a quarter of a G1 heap region, so that no page is a
    * humongous object; None off G1.
    *
    * Spark's default page is execution memory / cores / 16, rounded up to
    * a power of two, which works out to 16 MB in a 2 GB, 4-core JVM.
    * Every hash aggregate, sorter and shuffle sorter task allocates one
    * page on its first row, however few rows it holds. G1 allocates an
    * array of half a region or more (regions are 1 MB at a 2 GB heap)
    * straight into the old generation, and once old-generation occupancy
    * passes G1's concurrent-start threshold, each such allocation starts
    * a marking cycle. Whether a JVM got there depended on its earlier heap sizing,
    * so perfbench corpus_session JVMs ran in one of two modes: 9–15
    * marking cycles in a 10-second run, or 62–64 with 8.3–10.3
    * CPU-seconds per timed pass instead of 5.2–6.6. With quarter-region
    * pages, ten runs spent 5.2–6.6 CPU-seconds in every pass after the
    * first (5–6 marking cycles in the runs logged).
    *
    * A task's page table holds 8192 pages, so quarter-region pages still
    * address 2048 regions: about the whole heap, as G1 sizes a region at
    * about 1/2048 of it. */
  private[graft] def localPageBytes: Option[Long] = {
    val vm = ManagementFactory.getPlatformMXBean(classOf[HotSpotDiagnosticMXBean])
    if (vm.getVMOption("UseG1GC").getValue != "true") None
    else Some(vm.getVMOption("G1HeapRegionSize").getValue.toLong / 4)
  }

  /** Apply graft's engine settings to a builder before `getOrCreate()`. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // naive event timestamps read as UTC instants (oracle parity)
      .config("spark.sql.session.timeZone", "UTC")
      // one classloader, so one generated-class cache, for every session
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)

  /** Local session (tests, single-node runs): `local[cores]` with one
    * shuffle partition per core. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    build(s"local[$cores]", cores)

  /** Session for the command-line mains, sized by the environment:
    *  - `SPARK_GRAFT_CPUS`: local core count (default `defaultCores`);
    *  - `SPARK_GRAFT_MASTER`: master URL (default `local[<cpus>]`);
    *    `local-cluster[n,cores,memMB]` runs real executor JVMs, which get
    *    this JVM's classpath made absolute ([[ExecClasspath]]) and an
    *    executor memory that fits the worker ([[ExecMem]]);
    *  - `SPARK_GRAFT_SHUFFLE`: shuffle partitions (default `<cpus>`). */
  def fromEnv(defaultCores: Int): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(defaultCores)(_.toInt)
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    build(master, sys.env.get("SPARK_GRAFT_SHUFFLE").fold(cpus)(_.toInt))
  }

  /** The logger the unpartitioned-window warning goes to. */
  val WindowExecLogger = "org.apache.spark.sql.execution.window.WindowExec"

  private def build(master: String, shufflePartitions: Int): SparkSession = {
    val b = configure(SparkSession.builder().master(master), shufflePartitions)
      .config("spark.ui.enabled", "false")
    if (master == "local" || master.startsWith("local["))
      localPageBytes.foreach(b.config("spark.buffer.pageSize", _))
    if (master.startsWith("local-cluster"))
      b.config("spark.executor.extraClassPath", ExecClasspath.absolute)
        .config("spark.executor.memory", ExecMem.resolve(master))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Every bounded-frame window over a small aggregate (#sources rows, a
    // TakeOrdered top-k) warns "No Partition Defined for Window operation"
    // at plan time. PlansSpec's registry-wide window audit is the guard
    // against a genuinely unbounded one, so the warning is only noise.
    Configurator.setLevel(WindowExecLogger, Level.ERROR)
    GraftFunctions.register(s)
    s
  }
}
