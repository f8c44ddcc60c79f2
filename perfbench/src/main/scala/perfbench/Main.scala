package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.sources.Sinks

/** Benchmark program: runs one workload closed-loop from a single driver
  * thread on `local[nproc]` and writes raw timings, per-layer metrics,
  * spans and outputs for `perfbench/run.py` to check and summarize.
  *
  * Usage: Main --workload W --inputs DIR --out DIR --seconds S --trace 0|1
  *             --scale bench|smoke
  *
  * A run is: a cold start (JVM start, a `GraftSession.local` and one
  * untimed warm pass, which compiles most of the code the passes run),
  * three set-ups (each the stop of the current session, a fresh
  * `GraftSession.local` and a scan of every derived input table), timed
  * passes until `seconds` have elapsed and at least two ran, then the
  * untimed output checks. `--scale smoke` makes that one set-up and one
  * pass. With `--trace 1` untraced and traced passes alternate; the
  * untraced ones run the registered units, the traced ones the same units
  * with counting model wrappers, and only they carry listeners and spans. */
object Main {

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def nowMs: Double = System.currentTimeMillis().toDouble

  final case class UnitRun(name: String, build_s: Double, exec_s: Double,
                           error: Option[String])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val trace = opt("trace") == "1"
    val plain = Workloads.byName(opt("workload"), counted = false)
    val counted = if (trace) Workloads.byName(opt("workload"), counted = true) else plain
    val inputs = new File(opt("inputs")).getCanonicalPath
    val out = new File(opt("out")).getCanonicalFile
    val seconds = opt("seconds").toDouble
    val smoke = opt("scale") == "smoke"
    val setups = if (smoke) 1 else 3
    val minPasses = if (smoke) 1 else 2
    val cores = Runtime.getRuntime.availableProcessors()
    out.mkdirs()
    val sinkRoot = new File(out, "sink")

    var base: SparkSession = null
    var tracer: Tracer = null
    var lastRun: Workload = plain

    /** One pass over the units of `wl`. Returns the pass record and, per
      * unit, its output frame and sink directory. */
    def runPass(tag: String, wl: Workload, traced: Boolean)
        : (Map[String, Any], Seq[(BenchUnit, Option[DataFrame], File)]) = {
      val sc = base.sparkContext
      // each variant gets its own model instances (see BenchSingletons)
      if (wl ne lastRun) { graft.ml.BenchSingletons.clear(); lastRun = wl }
      if (traced) { tracer.reset(); sc.addSparkListener(tracer) }
      def fresh(): SparkSession = {
        val s = base.newSession()
        if (traced) tracer.attach(s)
        s
      }
      val runs = mutable.ArrayBuffer[UnitRun]()
      val frames = mutable.ArrayBuffer[(BenchUnit, Option[DataFrame], File)]()
      val windows = mutable.ArrayBuffer[UnitWindow]()
      val passStartMs = nowMs
      val steal0 = HostCpu.read()
      val cpu0 = HostCpu.processCpuNs
      val (gc0, jit0) = (HostCpu.gcMs, HostCpu.jitMs)
      val p0 = System.nanoTime()
      val session = fresh()
      for (u <- wl.units) {
        val (bg, eg) = (s"$tag/${u.name}/build", s"$tag/${u.name}/exec")
        val sinkDir = new File(sinkRoot, s"$tag/${u.name}")
        ModelCounters.reset()
        var frame: Option[DataFrame] = None
        var (bS, eS) = (Double.NaN, Double.NaN)
        var error: Option[String] = None
        val b0Ms = nowMs
        var (b1Ms, e1Ms) = (b0Ms, b0Ms)
        try {
          sc.setJobGroup(bg, u.name)
          val t0 = System.nanoTime()
          val df = u.build(session, inputs)
          val t1 = System.nanoTime()
          b1Ms = nowMs
          sc.setJobGroup(eg, u.name)
          if (wl.sink) Sinks.appendJsonl(df, sinkDir.getPath)
          else df.write.mode("overwrite").format("noop").save()
          val t2 = System.nanoTime()
          e1Ms = nowMs
          frame = Some(df)
          bS = (t1 - t0) / 1e9
          eS = (t2 - t1) / 1e9
        } catch {
          case NonFatal(e) =>
            error = Some(s"${e.getClass.getName}: ${e.getMessage}".take(2000))
            System.err.println(s"[perfbench] unit ${u.name} failed in $tag: ${error.get}")
        } finally sc.clearJobGroup()
        if (traced)
          windows += UnitWindow(u.name, bg, eg, (b0Ms, b1Ms), (b1Ms, e1Ms),
            u.pipeline, wl.sink, ModelCounters.snapshot())
        runs += UnitRun(u.name, bS, eS, error)
        frames += ((u, frame, sinkDir))
      }
      val wallS = (System.nanoTime() - p0) / 1e9
      var record = Map[String, Any]("tag" -> tag, "traced" -> traced, "wall_s" -> wallS,
        "process_cpu_s" -> (HostCpu.processCpuNs - cpu0) / 1e9,
        "gc_s" -> (HostCpu.gcMs - gc0) / 1e3, "jit_s" -> (HostCpu.jitMs - jit0) / 1e3,
        "host_steal_share" -> HostCpu.stealShare(steal0, HostCpu.read()),
        "units" -> runs.toSeq)
      if (traced) {
        tracer.drain(windows.flatMap(w => Seq(w.buildGroup, w.execGroup)))
        sc.removeSparkListener(tracer)
        val (metrics, spans) = tracer.summarize(tag, (passStartMs, nowMs), windows.toSeq)
        Files.write(Paths.get(out.getPath, "spans.jsonl"),
          spans.map(json.writeValueAsString(_) + "\n").mkString.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
        record += "layers" -> metrics
      }
      (record, frames.toSeq)
    }

    // ---- cold start, once: JVM start → session → untimed warm pass
    base = GraftSession.local(cores)
    base.sparkContext.setLogLevel("WARN")
    runPass("warm", plain, traced = false)
    // traced passes run the counting variants, where there are any: warm them too
    if (counted ne plain) runPass("warm-counted", counted, traced = false)
    deleteTree(sinkRoot)
    val coldStartS = (nowMs - jvmStartMs) / 1e3

    // ---- set-up, repeated: stop → fresh session → scan of the inputs
    val tables = new File(inputs).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted
    val setupS = mutable.ArrayBuffer[Double]()
    val setupSteal = mutable.ArrayBuffer[Option[Double]]()
    for (_ <- 0 until setups) {
      val steal0 = HostCpu.read()
      val t0 = System.nanoTime()
      base.stop()
      base = GraftSession.local(cores)
      base.sparkContext.setLogLevel("WARN")
      tables.foreach(t => base.read.parquet(t).count())
      setupS += (System.nanoTime() - t0) / 1e9
      setupSteal += HostCpu.stealShare(steal0, HostCpu.read())
    }

    // ---- timed passes, closed loop
    tracer = new Tracer(base.sparkContext)
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    var last = Map[Boolean, Seq[(BenchUnit, Option[DataFrame], File)]]()
    val start = System.nanoTime()
    val needed = if (trace) minPasses + 1 else minPasses
    var i = 0
    while (i < needed || (System.nanoTime() - start) / 1e9 < seconds) {
      val traced = trace && i % 2 == 1
      val tag = s"pass$i"
      val (record, frames) = runPass(tag, if (traced) counted else plain, traced)
      // heap still referenced once the pass is over (memos, checkpoints);
      // the pause lets Spark's ContextCleaner drop blocks of frames the
      // first collection found unreachable
      System.gc()
      Thread.sleep(200)
      System.gc()
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      last.get(traced).foreach(_.headOption.foreach(f => deleteTree(f._3.getParentFile)))
      last += traced -> frames
      passes += record + ("heap_retained_mb" -> heapMb)
      i += 1
    }
    val measuredS = (System.nanoTime() - start) / 1e9

    // ---- untimed output checks
    val checksStart = System.nanoTime()
    val checkSession = base.newSession()
    val checked = last(trace).map { case (u, frame, sinkDir) =>
      val resultDir = new File(out, s"results/${u.name}")
      var rec = Map[String, Any]("unit" -> u.name, "oracle" -> Workloads.oracleSql(u.name))
      try {
        val df = frame.getOrElse(sys.error("no output (unit failed)"))
        df.coalesce(1).write.mode("overwrite").parquet(resultDir.getPath)
        rec += "result_dir" -> resultDir.getPath
        // digest what was written: re-executing the unit would cost a pass
        lazy val d = digest(checkSession.read.parquet(resultDir.getPath))
        if (plain.sink) {
          val back = Sinks.readJsonl(checkSession, sinkDir.getPath, df.schema.toDDL)
          rec += "sink_match" -> (digest(back) == d)
        }
        if (trace) {
          // traced output must equal the registered (untraced) unit's output
          val registered = plain.units.find(_.name == u.name).get
          graft.ml.BenchSingletons.clear()
          rec += "untraced_match" -> (digest(registered.build(base.newSession(), inputs)) == d)
        }
        if (plain.sink || trace) rec += "digest" -> d
      } catch {
        case NonFatal(e) => rec += "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(2000)
      }
      rec
    }

    val result = Map[String, Any](
      "workload" -> plain.name,
      "units" -> plain.units.map(_.name),
      "trace" -> trace,
      "cores" -> cores,
      "cold_start_s" -> coldStartS,
      "setup_s" -> setupS.toSeq,
      "setup_host_steal_share" -> setupSteal.toSeq,
      "measured_s" -> measuredS,
      "passes" -> passes.toSeq,
      "checks" -> checked,
      "checks_s" -> (System.nanoTime() - checksStart) / 1e9,
      "spark_conf" -> (base.sparkContext.getConf.getAll.toMap ++ base.conf.getAll))
    Files.write(Paths.get(out.getPath, "result.json"),
      json.writerWithDefaultPrettyPrinter().writeValueAsBytes(result))
    base.stop()
  }

  /** Order-insensitive digest of every column of `df`: row count plus the
    * exact sum of per-row 64-bit hashes of the row's JSON rendering. */
  def digest(df: DataFrame): String = {
    val row = to_json(struct(df.columns.map(c => col(s"`$c`")): _*))
    val r = df.select(xxhash64(row).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Host CPU accounting from `/proc/stat`, to tell passes slowed by CPU time
  * the hypervisor gave to other guests (steal) from slow code. */
object HostCpu {
  /** (steal, total) jiffies over all CPUs, if `/proc/stat` is readable. */
  def read(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      Some((if (f.length > 7) f(7) else 0L, f.sum))
    } catch { case NonFatal(_) => None }

  /** Share of all CPU time between `a` and `b` that was stolen. */
  def stealShare(a: Option[(Long, Long)], b: Option[(Long, Long)]): Option[Double] =
    for ((s0, t0) <- a; (s1, t1) <- b if t1 > t0) yield (s1 - s0).toDouble / (t1 - t0)

  /** Milliseconds the JVM spent in garbage collection, all collectors. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Milliseconds the JIT compilers spent compiling. */
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)

  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }
}
