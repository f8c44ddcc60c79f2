package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

import graft.ops.{ExecClasspath, ExecMem}
import graft.plans.GraftFunctions

/** The one SparkSession factory: every main, the test session and the
  * benchmark build their session here. A session comes out configured the
  * way the engine expects — native expressions and optimizer rules
  * registered ([[GraftFunctions.register]]), AQE with skew-join splitting
  * on, nanosecond-parquet compatibility, UTC, and a shuffle-partition
  * default sized to the cluster instead of Spark's fixed 200 (AQE
  * coalesces downward from there at runtime). Logs run at WARN, with the
  * unpartitioned-window warning at ERROR (see [[build]]).
  *
  * Existing sessions work too: apply [[configure]] to your own builder
  * (on a cluster, shuffle partitions ≈ 2-3× total executor cores is the
  * standard start), and every `Tables.table` call registers the native
  * functions lazily; the declarative fallbacks keep any un-registered
  * session correct (just slower).
  *
  * Extra session confs need no env passthrough: Spark reads every
  * `spark.*` JVM system property into the session's SparkConf, so
  * `JAVA_TOOL_OPTIONS=-Dspark.k=v` reaches any main.
  */
object GraftSession {

  /** Apply graft's engine settings to a builder before `getOrCreate()`. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // naive event timestamps read as UTC instants (oracle parity)
      .config("spark.sql.session.timeZone", "UTC")

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
