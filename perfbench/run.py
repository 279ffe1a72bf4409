#!/usr/bin/env python3
"""Runs one benchmark workload (or all of them) and prints its metrics.

Usage, from the repository root:

    python3 perfbench/run.py --workload lake_read --seed 1 --seconds 10 --trace 0

`--workload all` runs every workload in BENCHMARK.json in turn.

The first run in a checkout builds the engine and the benchmark drivers
from source with sbt (perfbench/build.sbt) and caches the classpath under
.bench_build/, keyed by a hash of every source and build file. Each run
then starts one JVM (perfbench.Main) that sets up, runs the timed closed
loop, checks every op's output and writes a result file. The operators
workload's results are also checked here against the repository's DuckDB
oracle gate (scripts/verify_local.py) on the same generated tables.

Standard output ends with one JSON line: correct, attempted, failed and
the metrics, the end-to-end ones with --trace 0 and the per-layer ones
with --trace 1. Everything read or written stays inside the checkout.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
HEAP = "3g"
# the generated tables (perfbench/gen.py) each workload reads, and their
# scale factor
TABLES = {"lake": (gen.ALL, 0.01), "curation": (("documents", "embeddings"), 0.01)}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, relative to the root, sorted."""
    out = []
    for top in ("build.sbt", "project", "src/main",
                "perfbench/build.sbt", "perfbench/project", "perfbench/src"):
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            out.append(top)
        for d, dirs, files in os.walk(p):
            # build outputs: target/ anywhere, project/project/ and below
            dirs[:] = [x for x in dirs if x != "target" and
                       not (x == "project" and os.path.basename(d) == "project")]
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files
                    if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    return sorted(set(out))


def classpath():
    """Builds if any source changed; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    key = h.hexdigest()
    cache = os.path.join(OUT, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c.get("key") == key:
            return c["classpath"]
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    log = os.path.join(OUT, "build.log")
    t0 = time.time()
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspathAsJars"],
            cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = [x.strip() for x in fh if x.strip()]
    cp = [x for x in lines if "perfbench" in x and x.count(os.pathsep) > 10]
    if r.returncode != 0 or not cp:
        print("\n".join(lines[-30:]), file=sys.stderr)
        fail(f"build failed (see {log})")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(cache, "w") as fh:
        json.dump({"key": key, "classpath": cp[-1]}, fh)
    return cp[-1]


def run_jvm(cp, workload, seed, seconds, trace):
    work = os.path.join(OUT, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    inputs = os.path.join(work, "inputs")
    t0 = time.time()
    names, sf = TABLES[workload]
    gen.tables(inputs, seed, sf, names)
    gen_s = time.time() - t0
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload,
              "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--work", work, "--out", result,
              "--inputs", inputs, "--gen-s", str(gen_s)])
    log = os.path.join(work, "jvm.log")
    try:
        with open(log, "w") as fh:
            t0 = time.time()
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=fh,
                                    stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(result):
            with open(log) as fh:
                tail = fh.readlines()[-40:]
            print("".join(tail), file=sys.stderr)
            fail(f"{workload}: JVM exited with {rc}")
        with open(result) as fh:
            res = json.load(fh)
        res["jvm_wall_s"] = time.time() - t0
        if workload == "lake":
            res["oracle_ok"] = oracle_gate(inputs, os.path.join(work, "verify"))
            if not res["oracle_ok"]:
                res["correct"] = False
                res["errors"].append("DuckDB oracle mismatch")
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
            kept = os.path.join(OUT, "traces", f"{workload}-seed{seed}.jsonl")
            shutil.move(spans, kept)
            res["spans_file"] = os.path.relpath(kept, ROOT)
        return res
    finally:
        if os.path.exists(log):
            os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
            shutil.copy(log, os.path.join(OUT, "logs", f"{workload}-seed{seed}-trace{trace}.log"))
        shutil.rmtree(work, ignore_errors=True)


def oracle_gate(sf_dir, verify_dir):
    """The repository's DuckDB oracle gate over the sampled queries."""
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(ROOT, "scripts", "verify_local.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    with contextlib.redirect_stdout(sys.stderr):
        return mod.main(sf_dir, verify_dir) == 0


def span_table(path):
    """Self time per span name, from the traced run's span file."""
    agg = {}
    with open(path) as fh:
        for line in fh:
            s = json.loads(line)
            if s["op"] < 0:
                continue
            a = agg.setdefault(s["name"], [0, 0.0, 0.0, 0, 0, 0.0])
            a[0] += 1
            a[1] += s["dur_s"]
            a[2] += s["self_s"]
            a[3] += s["jobs"]
            a[4] += s["tasks"]
            a[5] += s["cpu_s"]
    rows = [f"  {'span':<30}{'calls':>6}{'incl_s':>9}{'self_s':>9}"
            f"{'jobs':>7}{'tasks':>7}{'cpu_s':>8}"]
    for n, a in sorted(agg.items(), key=lambda x: -x[1][2]):
        rows.append(f"  {n:<30}{a[0]:>6}{a[1]:>9.3f}{a[2]:>9.3f}"
                    f"{a[3]:>7}{a[4]:>7}{a[5]:>8.3f}")
    return "\n".join(rows)


def report(res, trace):
    c = res["conditions"]
    print(f"== {res['workload']} seed={res['seed']} trace={trace}: "
          f"{res['attempted']} ops in {res['rounds']} rounds, "
          f"{res['timed_wall_s']:.2f} s timed, failed={res['failed']}, "
          f"correct={str(res['correct']).lower()}")
    print(f"   conditions: nproc={c['nproc']} master={c['master']} "
          f"driver_max_heap_mb={c['driver_max_heap_mb']} "
          f"calibration pre={c['pre_calibration_s']:.3f} s "
          f"post={c['post_calibration_s']:.3f} s contended={str(c['contended']).lower()}")
    sp = res["setup_parts"]
    print(f"   setup parts: gen {sp['gen_s']:.2f} s, session {sp['session_s']:.2f} s, "
          f"prepare {sp['prepare_s']:.2f} s, build {sp['build_s']:.2f} s, "
          f"warm-up {sp['warm_up_s']:.2f} s; JVM wall {res['jvm_wall_s']:.1f} s")
    print(f"   ops by type: {json.dumps(res['attempted_by_type'])}"
          f" failed: {json.dumps(res['failed_by_type'])}")
    for e in res["errors"]:
        print(f"   CHECK FAILED: {e}")
    for k, m in res["end_to_end" if trace == 0 else "per_layer"].items():
        print(f"   {k:<34} {m['value']:>14.6g} {m['unit']}")
    if res.get("spans_file"):
        print(f"   spans: {res['spans_file']}")
        print(span_table(os.path.join(ROOT, res["spans_file"])))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(spec_path) and os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a repository checkout "
             "(BENCHMARK.json, build.sbt and src/main/scala/graft are required)")
    with open(spec_path) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    wanted = names if a.workload == "all" else [a.workload]
    if any(w not in names for w in wanted):
        fail(f"unknown workload {a.workload}; one of {names} or all")
    metrics = [m["name"] for m in spec["end_to_end" if a.trace == 0 else "per_layer"]]
    cp = classpath()
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in wanted:
        res = run_jvm(cp, w, a.seed, a.seconds, a.trace)
        report(res, a.trace)
        got = res["end_to_end" if a.trace == 0 else "per_layer"]
        missing = [m for m in metrics if m not in got]
        if missing:
            fail(f"{w}: metrics missing from the result: {missing}")
        out["correct"] = out["correct"] and res["correct"]
        out["attempted"] += res["attempted"]
        out["failed"] += res["failed"]
        prefix = "" if len(wanted) == 1 else w + "."
        for m in metrics:
            out["metrics"][prefix + m] = got[m]
    print(json.dumps(out))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
