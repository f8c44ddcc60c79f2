package graft

import org.apache.spark.sql.SparkSession

import graft.ops.{ExecClasspath, ExecMem}
import graft.plans.GraftFunctions

/** The one SparkSession factory: every main, the test session and the
  * benchmark build their session here. A session comes out configured the
  * way the engine expects — native expressions and optimizer rules
  * registered ([[GraftFunctions.register]]), AQE with skew-join splitting
  * on, nanosecond-parquet compatibility, UTC, and a shuffle-partition
  * default sized to the cluster instead of Spark's fixed 200 (AQE
  * coalesces downward from there at runtime).
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

  private def build(master: String, shufflePartitions: Int): SparkSession = {
    val b = configure(SparkSession.builder().master(master), shufflePartitions)
      .config("spark.ui.enabled", "false")
    if (master.startsWith("local-cluster"))
      b.config("spark.executor.extraClassPath", ExecClasspath.absolute)
        .config("spark.executor.memory", ExecMem.resolve(master))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(s)
    s
  }
}
