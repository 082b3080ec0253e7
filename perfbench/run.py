#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds (perfbench/build.py).
One JVM runs Spark local[N] with N = the host's core count, one operation
at a time. Every metric of the run record is printed with its unit and
direction; the last stdout line is the JSON result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding the end_to_end metrics of BENCHMARK.json with --trace 0 and its
per_layer metrics with --trace 1. The full record goes to
.bench_out/<workload>-seed<N>-trace<T>.json and the spans of a traced run
to .bench_out/<workload>-seed<N>-spans.json. The exit code is non-zero
when any operation failed or a correctness check did not hold.

--tiny shrinks the inputs (for selftest.py); its results are not
comparable with full runs.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # no __pycache__ inside the benchmark's directory
import build  # noqa: E402

JVM_TIMEOUT_S = 170
HEAP = "2g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none (not a git checkout)"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--tiny", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("src/main/scala is missing: run from the root of a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace == "1" else "end_to_end"]

    source_stamp = build.ensure()
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tag = f"{a.workload}-seed{a.seed}"
    record_path = os.path.join(out_dir, f"{tag}-trace{a.trace}.json")
    spans_path = os.path.join(out_dir, f"{tag}-spans.json")
    if os.path.exists(record_path):
        os.remove(record_path)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", *build.java_opts(), "-cp", build.classpath(),
           "perfbench.Bench", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--dir", work,
           "--record", record_path, "--spans", spans_path,
           "--expected", os.path.join(HERE, "expected_digests.txt"),
           "--commit", f"{git_commit()} src:{source_stamp[:16]}"]
    if a.tiny:
        cmd.append("--tiny")
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(record_path):
        fail(f"benchmark JVM exited with {code} and no run record")

    with open(record_path) as fh:
        rec = json.load(fh)
    by_name = {m["name"]: m for m in rec["metrics"]}
    print(f"{a.workload} seed={a.seed} trace={a.trace} context={json.dumps(rec['context'])}")
    for m in rec["metrics"]:
        print(f"  {m['name']:<40} {m['value']!s:>24} {m['unit']:<8} ({m['better']} is better)")
    problems = [f"{e['op']}: {e['error']}" for e in rec["errors"]]
    metrics = {}
    for want in wanted:
        got = by_name.get(want["name"])
        if got is None or got["value"] is None:
            problems.append(f"metric {want['name']} was not measured")
        elif got["unit"] != want["unit"]:
            problems.append(f"metric {want['name']} has unit {got['unit']}, expected {want['unit']}")
        else:
            metrics[want["name"]] = {"value": got["value"], "unit": got["unit"]}
    for p in problems:
        print(f"  ERROR {p}")
    correct = rec["correct"] and not problems
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
