#!/usr/bin/env python3
"""Paired A/B runs of perfbench: a parent commit against the working tree.

Run from the repository root:

    python3 tools/ab_pairs.py --parent HEAD~1 --workload corpus_session \\
        --pairs 10 --seed 501 --scratch ../ab_scratch --out ab.jsonl

The parent side is unpacked with `git archive` into `<scratch>/parent` and
runs there; the change side runs in the current directory. Pair i runs both
sides on seed `--seed + i`, parent first on even pairs and change first on odd
ones. Every run appends one JSONL row (side, seed, metrics, host_steal_share)
to `--out`. The report gives, per workload and end-to-end metric, each side's
median and quartiles, the change's wins out of the pairs (ties count for
neither) and the verdict: a gain is claimable when the change wins at least
nine tenths of the pairs and the medians differ by more than the parent's
interquartile range. `--pairs 0` only reports the rows already in `--out`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tarfile

SIDES = ("parent", "change")


def unpack(rev, dest):
    """The committed tree of `rev` in `dest` (reused when the commit matches)."""
    sha = subprocess.check_output(["git", "rev-parse", rev], text=True).strip()
    stamp = os.path.join(dest, ".ab_rev")
    if os.path.exists(stamp) and open(stamp).read() == sha:
        return dest
    os.makedirs(dest, exist_ok=True)
    archive = subprocess.Popen(["git", "archive", "--format=tar", sha], stdout=subprocess.PIPE)
    with tarfile.open(fileobj=archive.stdout, mode="r|") as tar:
        tar.extractall(dest)
    if archive.wait() != 0:
        sys.exit(f"git archive {rev} failed")
    with open(stamp, "w") as fh:
        fh.write(sha)
    return dest


def run_once(root, workload, seed, seconds):
    """One perfbench run in `root`: its JSON line and the passes' steal shares."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"error": f"exit {proc.returncode}"}, []
    with open(os.path.join(root, ".bench_build", "work", f"{workload}-t0", "summary.json")) as fh:
        steal = json.load(fh)["host_steal_share"]
    try:
        return json.loads(lines[-1]), steal
    except ValueError:
        return {"error": "no JSON line"}, steal


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def report(rows, better):
    """Print one line per (workload, metric) with the section-8 verdict."""
    for workload in sorted({r["workload"] for r in rows}):
        runs = [r for r in rows if r["workload"] == workload]
        ok = [r for r in runs if r.get("failed") == 0]
        pairs = {}
        for r in ok:
            pairs.setdefault(r["seed"], {})[r["side"]] = r
        pairs = [p for p in pairs.values() if len(p) == 2]
        steal = max((s for r in ok for s in r["host_steal_share"]), default=0.0)
        print(f"== {workload}: {len(pairs)} complete pairs, {len(runs) - len(ok)} runs with "
              f"failures or errors, max host steal {steal:.3f}")
        for metric, direction in better.items():
            if not pairs:
                continue
            vals = {side: [p[side]["metrics"][metric]["value"] for p in pairs] for side in SIDES}
            sign = 1 if direction == "lower" else -1
            wins = sum(1 for p, c in zip(vals["parent"], vals["change"]) if sign * (p - c) > 0)
            (p1, pm, p3), (c1, cm, c3) = quartiles(vals["parent"]), quartiles(vals["change"])
            gap = sign * (pm - cm)
            claim = wins >= 0.9 * len(pairs) and gap > p3 - p1
            verdict = "GAIN" if claim else ("worse" if gap < 0 else "no claim")
            print(f"  {metric:18s} parent {pm:.4g} [{p1:.4g}-{p3:.4g}]  "
                  f"change {cm:.4g} [{c1:.4g}-{c3:.4g}]  {100 * (cm - pm) / (pm or 1):+.1f}%  "
                  f"wins {wins}/{len(pairs)}  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="git revision of the parent side")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--scratch", required=True, help="directory for the parent's tree")
    ap.add_argument("--out", required=True, help="JSONL file the rows are appended to")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        better = {m["name"]: m["better"] for m in json.load(fh)["end_to_end"]}
    roots = {"change": os.getcwd()}
    if a.pairs:
        roots["parent"] = unpack(a.parent, os.path.abspath(os.path.join(a.scratch, "parent")))
    for workload in a.workload:
        for i in range(a.pairs):
            seed = a.seed + i
            for side in (SIDES if i % 2 == 0 else SIDES[::-1]):
                res, steal = run_once(roots[side], workload, seed, a.seconds)
                row = {"workload": workload, "side": side, "seed": seed,
                       "failed": res.get("failed"), "metrics": res.get("metrics", {}),
                       "host_steal_share": steal, "error": res.get("error")}
                with open(a.out, "a") as fh:
                    fh.write(json.dumps(row) + "\n")
                print(f"[ab] {workload} pair {i} seed {seed} {side}: "
                      f"{res.get('error') or 'failed=%s' % res.get('failed')}",
                      file=sys.stderr, flush=True)
    with open(a.out) as fh:
        rows = [json.loads(line) for line in fh if line.strip()]
    report([r for r in rows if r["workload"] in a.workload], better)


if __name__ == "__main__":
    main()
