package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_MASTER=local-cluster[4,8,13312] benches the WHOLE suite
    // on real executor JVMs (the Verify/ScaleProbe convention) — the
    // end-to-end number that weighs the per-family topology table.
    val spark = GraftSession.fromEnv(defaultCores = 32)
    // Session warmup (not timed): initialize codegen, parquet reader, and
    // shuffle machinery once so per-query timings measure the queries.
    spark.range(1000).selectExpr("sum(id)").collect() // bounded: 1-row warmup agg
    spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count().collect() // bounded: #regions rows
    // Optional comma-separated query filter for local iteration.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names(n) })
    // Per-query codegen/JIT warm-up at the smallest SF (not timed): the
    // first execution of a deep generated-code chain in a fresh JVM pays
    // C2 tier-up (~22 s measured on pipeline_dedup_corpus vs ~5 s steady;
    // whichever heavy LSH query runs first in a sweep absorbs a similar
    // tail). Running every query once on sf0.001 compiles the same
    // generated/operator code at negligible data cost, so the timed sweep
    // below measures steady-state plans instead of compiler state.
    // Disable with SPARK_GRAFT_WARM_DIR="" for cold-start measurements.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if (warmDir.nonEmpty && new java.io.File(warmDir).isDirectory &&
        warmDir != sfDir)
      selected.foreach { case (name, fn) =>
        try fn(spark, warmDir).write.mode("overwrite").format("noop").save()
        catch { case e: Throwable =>
          System.err.println(s"BENCH WARMUP $name: ${e.getMessage}")
        }
      }
    // Exec repeats: round-over-round wall-clock diffs on this shared host
    // carry a documented ±30% noise band that nearly masked real signal
    // in round 8 — a UNIFORM 1.27× shift across 196 heterogeneous queries
    // read as a regression until isolated reruns cleared every flagged
    // query. Re-executing each query's returned frame N times and
    // recording the per-query MIN exec (`exec_min`) gives diffs a
    // noise-robust number: host-load spikes inflate individual runs but
    // never deflate one. The build runs once (plan time is checkpoint
    // attribution, not a regression signal); repeats re-run only the noop
    // write of the already-built frame. Default 2 for the full sweep,
    // 1 for ONLY-filtered local iteration; SPARK_GRAFT_REPEATS overrides.
    val repeats = sys.env.get("SPARK_GRAFT_REPEATS").map(_.toInt)
      .getOrElse(if (only.isDefined) 1 else 2)
    // Set when a FATAL error (OOM, VirtualMachineError) was swallowed by a
    // per-query handler: executor/JVM state past that point may be
    // degraded, so the artifact carries a `degraded` flag diffs can read.
    val degraded = new java.util.concurrent.atomic.AtomicBoolean(false)
    val results = selected.map { case (name, fn) =>
      // isolate queries from each other's garbage: long sweeps otherwise
      // show multi-second random spikes when a query inherits the heap
      // debt of its predecessors (measured +/-30% run-to-run variance)
      System.gc()
      val t0 = System.nanoTime()
      // BUILD and EXEC timed separately: builder-time driver actions
      // (localCheckpoints, auto-depth counts, index saves) bill to
      // `plan`, the noop write of the returned frame to `exec` — so
      // round-over-round regression diffs can compare exec without the
      // checkpoint-attribution noise (lsh_calibration reads 13 s plan /
      // 0.2 s exec). noop materializes EVERY output column (count()
      // lets Catalyst prune projection work away) while writing
      // nothing. A failing query records -1 (a fast wall-time would
      // read as healthy) and logs to stderr.
      val (planSec, execSecs) =
        try {
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.write.mode("overwrite").format("noop").save()
          val first = (System.nanoTime() - t1) / 1e9
          // Each repeat gets its own try: a failure mid-repeat (OOM from a
          // neighbor's heap debt, transient executor loss) must not discard
          // the successful first measurement — min over the runs that
          // completed is still a valid exec_min.
          // NonFatal only: a swallowed OutOfMemoryError/VirtualMachineError
          // leaves the JVM degraded, making every LATER query's exec in
          // this artifact silently unreliable — fatal errors propagate to
          // the outer handler, which records the failure AND flags the
          // whole artifact (`degraded`) so round-over-round diffs can
          // discount the run.
          val extra = (2 to repeats).flatMap { _ =>
            try {
              System.gc()
              val tr = System.nanoTime()
              df.write.mode("overwrite").format("noop").save()
              Some((System.nanoTime() - tr) / 1e9)
            } catch { case scala.util.control.NonFatal(e) =>
              System.err.println(
                s"BENCH REPEAT $name: ${e.getClass.getName}: ${e.getMessage}")
              None
            }
          }
          ((t1 - t0) / 1e9, first +: extra.toVector)
        } catch {
          case e: Throwable =>
            if (!scala.util.control.NonFatal(e)) degraded.set(true)
            System.err.println(
              s"BENCH FAILURE $name: ${e.getClass.getName}: ${e.getMessage}")
            (-1.0, Vector(-1.0))
        }
      name -> (planSec, execSecs)
    }
    val failed = results.count(_._2._1 < 0)
    if (failed > 0) System.err.println(s"BENCH: $failed queries FAILED (recorded as -1)")
    def jmap(f: ((Double, Seq[Double])) => Double) = results
      .map { case (k, v) => s"\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    val qs = jmap { case (p, es) => if (p < 0) -1.0 else p + es.head }
    val plans = jmap(_._1)
    val execs = jmap(_._2.head)
    val execMins = jmap { case (p, es) => if (p < 0) -1.0 else es.min }
    val total = results.values.collect { case (p, es) if p >= 0 => p + es.head }.sum
    // `value` (combined) keeps the historical headline; `value_exec` is
    // the first-run exec total; `value_exec_min` (sum of per-query MIN
    // exec over the repeats) is the number round-over-round comparisons
    // should quote — the combined total conflates checkpoint-at-build
    // plan time with execution, and single-run exec carries host noise.
    val totalExec = results.values.collect { case (p, es) if p >= 0 => es.head }.sum
    val totalExecMin = results.values.collect { case (p, es) if p >= 0 => es.min }.sum
    val line = s"""{"metric":"total","value":$total,"value_exec":$totalExec,"value_exec_min":$totalExecMin,"repeats":$repeats,"degraded":${degraded.get()},"unit":"sec","queries":$qs,"plan":$plans,"exec":$execs,"exec_min":$execMins,"sf":"$sfDir"}"""
    println(line)
    // The driver captures a bounded stdout TAIL, which truncates the
    // per-query map past ~60 queries — ALSO write the complete line to a
    // file so round-over-round regression diffs cover the full suite.
    // ONLY-filtered local iteration runs get a distinct default name: a
    // single-query rerun must never clobber the full-sweep artifact the
    // round-over-round diffs read.
    val defaultOut =
      if (only.isDefined) s"bench_only_${new java.io.File(sfDir).getName}.json"
      else s"bench_full_${new java.io.File(sfDir).getName}.json"
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"BENCH: could not write $outFile: ${e.getMessage}")
    }
    // Full sweeps auto-diff against the LAST COMMITTED artifact of the
    // same name (tools/bench_diff.py, median-normalized), writing
    // bench_diff_<sf>.txt next to the artifact — a regression is caught
    // the day it lands instead of at verdict time. Best-effort: any
    // failure (no git, no prior artifact, no python) only logs.
    if (only.isEmpty) {
      try {
        // Resolve the repo root explicitly: `git show` and the
        // tools/bench_diff.py path below must not silently depend on the
        // launch CWD (a Bench started from elsewhere used to report
        // "no committed artifact" with no hint why).
        val rootProc = new ProcessBuilder("git", "rev-parse", "--show-toplevel")
          .redirectErrorStream(false).start()
        val repoRoot = {
          val s = new java.util.Scanner(rootProc.getInputStream)
          val r = if (s.hasNextLine) s.nextLine().trim else ""
          s.close(); rootProc.waitFor(); r
        }
        if (repoRoot.isEmpty)
          System.err.println(s"BENCH DIFF: not inside a git repo (cwd=${
            System.getProperty("user.dir")}) — skipping auto-diff")
        else {
          val prev = java.nio.file.Files.createTempFile("bench_prev", ".json")
          val show = new ProcessBuilder("git", "show", s"HEAD:$defaultOut")
            .directory(new java.io.File(repoRoot))
            .redirectOutput(prev.toFile).redirectErrorStream(false).start()
          if (show.waitFor() == 0 && java.nio.file.Files.size(prev) > 2) {
            val diffOut = new java.io.File(
              outFile.replaceAll("\\.json$", "").replace("bench_full", "bench_diff") + ".txt")
            val diff = new ProcessBuilder(
              "python3", s"$repoRoot/tools/bench_diff.py", prev.toString, outFile)
              .redirectOutput(diffOut).redirectErrorStream(true).start()
            diff.waitFor()
            System.err.println(s"BENCH DIFF vs HEAD:$defaultOut -> $diffOut")
            scala.util.Using.resource(
              scala.io.Source.fromFile(diffOut, "UTF-8"))(
              _.getLines().take(6).foreach(l => System.err.println(s"BENCH DIFF: $l")))
          } else System.err.println(
            s"BENCH DIFF: no committed $defaultOut at HEAD in $repoRoot to diff against")
          java.nio.file.Files.deleteIfExists(prev)
        }
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"BENCH DIFF skipped: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
