#!/usr/bin/env python3
"""A/B the repository benchmark: a git revision against the working tree.

    python3 tools/perfbench_ab.py [--rev HEAD] [--workload lakehouse] \
        [--seeds 1,2,3,4,5,6,7,8,9,10] [--seconds 10] [--trace]

Exports `--rev` (default HEAD) with `git archive` into a temporary
directory, then runs `perfbench/run.py` there ("parent") and in the
working tree ("change") once per seed and workload, alternating which
side goes first from seed to seed so slow drift of the host hits both
sides alike. Prints, per workload, each end-to-end metric's median on
both sides with the change in percent and how many seed pairs moved the
better way, then the per-operation medians the runs log on stderr.
Each end-to-end metric also shows its `bound` from BENCHMARK.json, the
parent's quartile spread (IQR / median), and `WORSE>bound` when the
change's median is worse than the parent's by more than that bound, or
`GAIN` when the change is better in at least 9 of 10 seed pairs and its
median is better than the parent's by more than the parent's IQR — the
bar a claimed gain must clear.
With `--trace`, both sides run with `--trace 1`, which reports the
per-layer metrics (`pipeline.preprocess_s`, `spark.stages`, ...) in place
of the end-to-end ones; the same table then compares those.

Exits 1 if any run fails or reports `correct: false`. Both sides build
their own `.bench_build/`; the exported copy is deleted at the end.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OP_MEDIANS = re.compile(r"\[perfbench\] median s per operation: (.*)$", re.M)


def run(tree, workload, seed, seconds, trace):
    """One benchmark run in `tree`; returns (metrics, per-op medians)."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))],
        cwd=tree, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"perfbench_ab: {workload} seed {seed} failed in {tree}")
    res = json.loads(lines[-1])
    if not res.get("correct") or res.get("failed"):
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"perfbench_ab: {workload} seed {seed} in {tree} "
                         f"reported correct={res.get('correct')} failed={res.get('failed')}")
    ops = {}
    m = OP_MEDIANS.search(p.stderr)
    if m:
        for part in m.group(1).split(", "):
            name, _, val = part.rpartition(" ")
            ops[name] = float(val)
    return {k: v["value"] for k, v in res["metrics"].items()}, ops


def pct(a, b):
    return (b - a) / a * 100 if a else float("nan")


def bound_check(parent_vals, p_med, c_med, sign, bound, wins, pairs):
    """Bound, the parent's IQR/median, and the WORSE>bound or GAIN flag."""
    if len(parent_vals) >= 2:
        q1, _, q3 = statistics.quantiles(parent_vals, n=4, method="inclusive")
    else:
        q1 = q3 = p_med
    spread = (q3 - q1) / p_med if p_med else float("nan")
    worse = -sign * (c_med - p_med) / p_med if p_med else 0.0
    flag = ""
    if worse > bound:
        flag = "  WORSE>bound"
    elif wins >= 0.9 * pairs and sign * (c_med - p_med) > q3 - q1:
        flag = "  GAIN"
    return f"  bound {bound:.0%}  parent IQR/median {spread:6.1%}{flag}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rev", default="HEAD", help="git revision to compare against")
    ap.add_argument("--workload", action="append", choices=["batch", "lakehouse"],
                    help="repeatable; default: both")
    ap.add_argument("--seeds", default="1,2,3,4,5,6,7,8,9,10", help="comma-separated seeds")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", action="store_true",
                    help="run both sides with --trace 1 and compare the per-layer metrics")
    a = ap.parse_args()
    workloads = a.workload or ["batch", "lakehouse"]
    seeds = [int(s) for s in a.seeds.split(",") if s]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    parent = tempfile.mkdtemp(prefix="perfbench_ab_")
    try:
        archive = subprocess.run(["git", "archive", a.rev], cwd=ROOT, check=True,
                                 capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", parent], input=archive, check=True)
        for w in workloads:
            sides = {"parent": ([], []), "change": ([], [])}
            for i, seed in enumerate(seeds):
                order = [("parent", parent), ("change", ROOT)]
                for side, tree in (order if i % 2 == 0 else order[::-1]):
                    metrics, ops = run(tree, w, seed, a.seconds, a.trace)
                    sides[side][0].append(metrics)
                    sides[side][1].append(ops)
                    print(f"[ab] {w} seed {seed} {side}: " + ", ".join(
                        f"{k} {v:.4g}" for k, v in sorted(metrics.items())), file=sys.stderr, flush=True)
            kind = "per-layer (--trace 1)" if a.trace else "end-to-end"
            print(f"== {w}, {kind}: {a.rev} (parent) vs working tree (change), seeds {seeds} ==")
            (pm, po), (cm, co) = sides["parent"], sides["change"]
            # only what both sides report: an op or metric one side lacks
            # (added or renamed) has no pair to compare
            for k in sorted(set(pm[0]) & set(cm[0])):
                p_med = statistics.median(r[k] for r in pm)
                c_med = statistics.median(r[k] for r in cm)
                if p_med == c_med == 0:  # a layer the workload never runs
                    continue
                sign = -1 if better.get(k) == "lower" else 1
                wins = sum(1 for x, y in zip(pm, cm) if sign * (y[k] - x[k]) > 0)
                check = (bound_check([r[k] for r in pm], p_med, c_med, sign, bounds[k],
                                     wins, len(seeds))
                         if k in bounds else "")
                print(f"{k:30s} parent {p_med:10.4g}  change {c_med:10.4g}  "
                      f"{pct(p_med, c_med):+7.1f}%  better in {wins}/{len(seeds)} pairs{check}")
            for k in sorted(set().union(*po) & set().union(*co)):
                p_med = statistics.median(r[k] for r in po if k in r)
                c_med = statistics.median(r[k] for r in co if k in r)
                print(f"  op {k:18s} parent {p_med:8.3f} s  change {c_med:8.3f} s  "
                      f"{pct(p_med, c_med):+7.1f}%")
    finally:
        shutil.rmtree(parent, ignore_errors=True)


if __name__ == "__main__":
    main()
