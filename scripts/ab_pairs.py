#!/usr/bin/env python3
"""Paired A/B of the repository benchmark between two checkouts.

Runs `perfbench/run.py` in a parent checkout and a change checkout, one
pair per seed, alternating which side runs first (even pairs parent
first, odd pairs change first), and prints:

- each end-to-end metric's median [quartiles] per side, the change in
  the median, and in how many pairs the change was better; the
  direction is read from BENCHMARK.json;
- per op kind, the median over runs of the summed latency of the timed
  ops, read from the JVM log that run.py keeps in `.bench_build/logs/`
  (the warm-up's ops come first in that log and are left out);
- each run's correctness and failed ops.

Usage, from anywhere:

    python3 scripts/ab_pairs.py PARENT_DIR CHANGE_DIR --workload lake \
        --seeds 601-610

Every run lasts BENCHMARK.json's `run_seconds`. Each checkout builds
its own classpath on its first run. The runs are sequential; keep the
host otherwise idle while they run.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

OP_LINE = re.compile(r"^\[perfbench\] op (\S+) ([0-9.]+) s$")


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(checkout, workload, seed, seconds):
    """One untraced run: its result JSON and its timed op latencies."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"ab_pairs: no result from {checkout} seed {seed}")
    res = json.loads(lines[-1])
    log = os.path.join(checkout, ".bench_build", "logs",
                       f"{workload}-seed{seed}-trace0.log")
    ops = []
    with open(log) as fh:
        for l in fh:
            m = OP_LINE.match(l.strip())
            if m:
                ops.append((m.group(1), float(m.group(2))))
    sums = {}
    for kind, s in ops[len(ops) - res["attempted"]:]:
        sums[kind] = sums.get(kind, 0.0) + s
    return {"seed": seed, "correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()},
            "op_sums": sums}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def fmt(x):
    return f"{x:.4g}"


def summary(name, a, b, higher_better):
    """One line: parent → change medians, quartiles, change %, wins."""
    qa, qb = quartiles(a), quartiles(b)
    pct = (qb[1] - qa[1]) / qa[1] * 100 if qa[1] else 0.0
    wins = sum((y > x) if higher_better else (y < x) for x, y in zip(a, b))
    gap = abs(qb[1] - qa[1]) > qa[2] - qa[0]
    return (f"  {name:<28} {fmt(qa[1])} [{fmt(qa[0])}–{fmt(qa[2])}] → "
            f"{fmt(qb[1])} [{fmt(qb[0])}–{fmt(qb[2])}]  {pct:+.1f}%  "
            f"change better {wins}/{len(a)}"
            f"{'  (gap > parent IQR)' if gap else ''}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 601-610 or 1,5,9")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]
    runs = {"parent": [], "change": []}
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run_once(getattr(a, side), a.workload, seed, seconds)
            runs[side].append(r)
            print(f"seed {seed} {side}: correct={r['correct']} failed={r['failed']} "
                  + " ".join(f"{k}={fmt(v)}" for k, v in r["metrics"].items()),
                  flush=True)
    p, c = runs["parent"], runs["change"]
    print(f"\n{a.workload}, {len(p)} pairs, seeds {a.seeds}, "
          f"--seconds {seconds:g}: median [quartiles], parent → change")
    for m in spec["end_to_end"]:
        n = m["name"]
        print(summary(n, [r["metrics"][n] for r in p], [r["metrics"][n] for r in c],
                      better[n] == "higher"))
    print("timed op latency summed per kind (s):")
    for k in sorted({k for r in p + c for k in r["op_sums"]}):
        print(summary(k, [r["op_sums"].get(k, 0.0) for r in p],
                      [r["op_sums"].get(k, 0.0) for r in c], False))
    bad = [(s, r["seed"]) for s in runs for r in runs[s]
           if not r["correct"] or r["failed"]]
    print(f"runs correct with 0 failed ops: {len(p) + len(c) - len(bad)}/{len(p) + len(c)}"
          + (f"; NOT: {bad}" if bad else ""))


if __name__ == "__main__":
    main()
