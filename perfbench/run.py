#!/usr/bin/env python3
"""Curation benchmark: one workload, end to end, with its outputs checked.

Run from the repository root:

    python3 perfbench/run.py --workload media_curation --seed 1 --seconds 10 --trace 0

Steps: build the engine and the benchmark program from source (sbt, offline;
skipped when the sources are unchanged), derive the seed's inputs by
resampling the bundled sf0.1 tables, run the benchmark JVM, check every unit's
output against its DuckDB oracle, and print one JSON line as the last line
of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run. Everything the run writes lands in `.bench_build/`
under the current directory; the full record of a run is its `summary.json`.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import oracle  # noqa: E402

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "rows_per_s": "1/s", "unit_p50_s": "s",
    "unit_max_s": "s", "exec_min_s": "s", "heap_retained_mb": "MB",
}
PER_LAYER = {
    "queries.build_s": "s", "queries.exec_s": "s", "queries.driver_other_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.task_wait_s": "s", "spark.task_cpu_s": "s",
    "spark.build_job_s": "s", "spark.exec_job_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.peak_exec_mem_bytes": "bytes", "spark.self_s": "s",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    "plans.sql_executions": "count", "plans.self_s": "s",
    "ops.checkpoint_jobs": "count", "ops.checkpoint_s": "s", "ops.checkpoint_bytes": "bytes",
    "ops.self_s": "s",
    "sources.input_records": "count", "sources.input_bytes": "bytes",
    "sources.sink_write_s": "s", "sources.output_records": "count",
    "sources.output_bytes": "bytes",
    "ml.model_calls": "count", "ml.model_batches": "count", "ml.model_call_s": "s",
    "ml.kept_ratio": "ratio",
    "pipelines.build_s": "s",
    "trace.overhead_ratio": "ratio",
}
# Files whose content decides whether the compiled classes are current.
BUILD_INPUTS = ["src/main", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def source_stamp(root):
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(root, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_jars(root):
    """The Spark jars to compile and run against: `$SPARK_HOME/jars`, else
    the directory the engine's own build.sbt names as its `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m is None:
        fail("set SPARK_HOME: no Spark jars directory found")
    return m.group(1)


def build(root, build_dir, jars):
    """Compile engine + benchmark program with sbt (offline) unless the stamp
    matches."""
    classes = os.path.join(root, "perfbench", "target", "scala-2.13", "classes")
    stamp_file = os.path.join(build_dir, "build.stamp")
    stamp = source_stamp(root)
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_SPARK_JARS=jars)
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's socket and JNA scratch files go to the checkout, not /tmp
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark program (sbt compile)")
    t0 = time.time()
    with open(os.path.join(build_dir, "build.log"), "w") as out:
        rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                       os.path.join(root, "perfbench"), env, out, BUILD_TIMEOUT_S)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {build_dir}/build.log")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return classes


def run_child(cmd, cwd, env, out, timeout):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait, so nothing outlives the benchmark."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -9
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def run_main(classes, jars, args, work, timeout):
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # C1 only: with the C2 compiler on, a run this short spends more CPU
    # in C2 compiles than in the program, and pass times measure that
    cmd = ["java", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Djava.io.tmpdir={work}/tmp",
        "-cp", f"{classes}{os.pathsep}{jars}/*",
        "perfbench.Main"] + args
    with open(os.path.join(work, "main.log"), "w") as out:
        rc = run_child(cmd, work, dict(os.environ), out, timeout)
    if rc != 0:
        with open(os.path.join(work, "main.log")) as fh:
            tail = fh.read()[-3000:]
        fail(f"benchmark JVM exited with {rc}:\n{tail}")


def median(xs):
    return statistics.median(xs)


def summarize(result, rows_in, trace):
    """End-to-end times take the fastest untraced pass: CPU time the host
    gives to other guests (steal) only ever adds time, so the fastest pass
    is the least disturbed one. Heap and the per-layer metrics take the
    median over passes."""
    passes = result["passes"]
    plain = [p for p in passes if not p["traced"]]
    ok = [u for p in plain for u in p["units"] if u["error"] is None]
    wall = min(p["wall_s"] for p in plain)
    extra = {"passes": len(plain), "unit_samples": len(ok),
             "host_steal_share": [p["host_steal_share"] for p in passes]}
    if trace:
        traced = [p for p in passes if p["traced"]]
        metrics = {k: median([p["layers"][k] for p in traced]) for k in PER_LAYER
                   if k != "trace.overhead_ratio"}
        metrics["trace.overhead_ratio"] = min(p["wall_s"] for p in traced) / wall
        extra["traced_passes"] = len(traced)
        # every layer's self time; only the layers present in both
        # workloads are metrics (the others read 0 by construction on one)
        extra["layer_self_s"] = {k: median([p["layers"][k] for p in traced])
                                 for k in traced[0]["layers"] if k.endswith(".self_s")}
        units = PER_LAYER
    else:
        runs = [[u for u in ok if u["name"] == n] for n in result["units"]]
        # each unit's latency (build + first exec), fastest pass
        latency = [min(u["build_s"] + u["exec_s"] for u in r) for r in runs if r]
        metrics = {
            "setup_s": median(result["setup_s"]),
            "wall_s": wall,
            "rows_per_s": rows_in / wall,
            "unit_p50_s": median(latency),
            "unit_max_s": max(latency),
            "exec_min_s": sum(min(u["exec_s"] for u in r) for r in runs if r),
            "heap_retained_mb": median([p["heap_retained_mb"] for p in plain]),
        }
        units = END_TO_END
    return {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}, extra


def main():
    # a terminated benchmark still stops the JVM or sbt it started (run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(inputs.SIZES["bench"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=sorted(inputs.SIZES), default="bench",
                    help="'bench' (default) or 'smoke': sf0.001-sized inputs, one set-up "
                         "and one timed pass")
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("src/main/scala/graft/SparkEntry.scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars(root)
    classes = build(root, build_dir, jars)

    started = time.time()
    work = os.path.join(build_dir, "work", f"{a.workload}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sizes = inputs.SIZES[a.scale][a.workload]
    derived = inputs.derive(os.path.join(HERE, "data"), os.path.join(work, "inputs"),
                            sizes, a.seed)
    rows_in = sum(t["rows"] for t in derived.values())
    out = os.path.join(work, "out")
    run_main(classes, jars, ["--workload", a.workload, "--inputs", os.path.join(work, "inputs"),
                             "--out", out, "--seconds", str(a.seconds), "--trace", str(a.trace),
                             "--scale", a.scale],
             work, RUN_TIMEOUT_S - (time.time() - started))
    with open(os.path.join(out, "result.json")) as fh:
        result = json.load(fh)

    checks = oracle.check(os.path.join(work, "inputs"), list(sizes), result["checks"])
    metrics, extra = summarize(result, rows_in, a.trace == 1)
    bad = {c["unit"] for c in checks if not c["ok"]}
    runs = [u for p in result["passes"] for u in p["units"]]
    failed = sum(1 for u in runs if u["error"] or u["name"] in bad)
    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "scale": a.scale,
        "inputs": derived, "units": result["units"],
        "cold_start_s": result["cold_start_s"], "setup_s": result["setup_s"],
        "setup_host_steal_share": result["setup_host_steal_share"],
        "measured_s": result["measured_s"], "checks": checks, **extra,
        "passes": result["passes"],
        "spark_conf": result["spark_conf"], "metrics": metrics,
    }
    with open(os.path.join(work, "summary.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    for c in checks:
        if not c["ok"]:
            log(f"check failed: {c['unit']}: {c['detail']}")
    log(f"{a.workload} seed={a.seed} trace={a.trace}: {extra}; full record in "
        f"{os.path.relpath(work, root)}/summary.json")
    print(json.dumps({"correct": failed == 0, "attempted": len(runs),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
