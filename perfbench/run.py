#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload osm|analytics \
      --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source on first use
(perfbench/build.py, into .bench_build), then runs one JVM. Scratch state
goes to .bench_work/ and is removed afterwards; the run record and, with
--trace 1, the span file stay in .bench_out/.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
import build  # noqa: E402

WORKLOADS = ("osm", "analytics")
# per-layer metrics each workload must report, by name prefix; a traced run
# reports the other workload's layers as 0 (it does no work there)
OWNS = {
    "osm": ("sources.", "ImportPipeline.", "sinks.", "operators.generalize.", "import.",
            "streaming.", "operators.expire.", "run.", "trace."),
    "analytics": ("queries.", "operators.TermIndex.", "operators.IvfIndex.", "serve.",
                  "run.", "trace."),
}
# after the build, one run must end well inside three minutes
JVM_TIMEOUT_S = 165

def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def declared(root):
    """End-to-end and per-layer metric units declared in BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def complete(metrics, names, owned):
    """Every declared metric, in declared order. The metrics `owned(name)`
    selects must all have been measured; the rest must not have been, and
    read 0 (no work done there)."""
    mine = {n for n in names if owned(n)}
    unknown = set(metrics) - set(names)
    if unknown:
        sys.exit(f"run: undeclared metrics {sorted(unknown)}")
    missing = sorted(mine - set(metrics))
    if missing:
        sys.exit(f"run: metrics not measured: {missing}")
    foreign = sorted(set(metrics) - mine)
    if foreign:
        sys.exit(f"run: metrics of another workload reported: {foreign}")
    out = {}
    for n, unit in names.items():
        m = metrics.get(n, {"value": 0.0, "unit": unit})
        if m["unit"] != unit or not isinstance(m["value"], (int, float)) \
                or not math.isfinite(m["value"]):
            sys.exit(f"run: bad value for {n}: {m}")
        out[n] = m
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    e2e_names, layer_names = declared(root)
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classpath = build.build(root, build_dir)

    work = os.path.join(root, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(root, ".bench_out")
    env = dict(os.environ, PERFBENCH_GIT_COMMIT=git_commit(root))
    # a fixed, pre-touched heap: resident size and GC pacing do not depend
    # on when the heap happened to grow
    cmd = (["java", "-Xss8m", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch"] + build.ADD_OPENS
           + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties"),
              "-Dspark.ui.enabled=false",
              "-cp", classpath,
              "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", out, "--bench-dir", BENCH_DIR])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"run: {a.workload} exceeded {JVM_TIMEOUT_S}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.exit(f"run: {a.workload} failed with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("run: malformed result line")
    if a.trace:
        result["metrics"] = complete(result["metrics"], layer_names,
                                     lambda n: n.startswith(OWNS[a.workload]))
    else:
        result["metrics"] = complete(result["metrics"], e2e_names, lambda n: True)
    print(json.dumps(result))
    if not result["correct"]:
        print(f"run: {a.workload} produced wrong output; see {out}", file=sys.stderr)


if __name__ == "__main__":
    main()
