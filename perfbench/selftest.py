#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py          (from the checkout root, ~3 min)

For every workload in BENCHMARK.json it runs run.py --tiny with --trace 0
and --trace 1 and checks that:
  - the last stdout line is the result object with exactly the keys
    correct/attempted/failed/metrics, correct, and no failed operation;
  - every end_to_end (trace 0) or per_layer (trace 1) metric is present
    with the unit BENCHMARK.json gives, and every metric in the run
    record carries a unit and a direction;
  - the traced run recorded the workload's own phases, and its spans nest:
    one root per traced operation, every other span inside its parent.
It also checks that run.py fails, without a result line, in a directory
holding only BENCHMARK.json and perfbench/.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

PHASES = {
    "curate": ["pipeline.curate_s", "io.write_s", "pipeline.metrics_s"],
    "fuzzy_dedup": ["dedup.signatures_s", "dedup.bands_edges_s", "dedup.components_s",
                    "io.write_s", "dedup.chain_edges", "dedup.distinct_edges",
                    "dedup.edge_yield", "dedup.removals"],
}


def run(cwd, workload, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_spans(path, workload):
    spans = json.load(open(path))
    assert spans, "no spans written"
    runs = {}
    for s in spans:
        runs.setdefault(s["run_id"], {})[s["id"]] = s
    for run_id, by_id in runs.items():
        roots = [s for s in by_id.values() if s["parent"] == -1]
        assert len(roots) == 1 and roots[0]["name"] == workload, f"{run_id}: roots {roots}"
        for s in by_id.values():
            assert s["start_ns"] <= s["end_ns"], f"{run_id}: span {s} ends before it starts"
            if s["parent"] != -1:
                p = by_id[s["parent"]]
                assert p["start_ns"] <= s["start_ns"] and s["end_ns"] <= p["end_ns"], \
                    f"{run_id}: span {s['name']} lies outside its parent {p['name']}"
            assert s["self_s"] >= -1e-9, f"{run_id}: span {s['name']} has negative self time"


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = run(ROOT, w, trace)
            assert r.returncode == 0, f"{w} trace {trace}: exit {r.returncode}\n{r.stdout}\n{r.stderr[-3000:]}"
            res = json.loads(r.stdout.strip().splitlines()[-1])
            assert sorted(res) == ["attempted", "correct", "failed", "metrics"], res
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                assert got is not None, f"{w} trace {trace}: {m['name']} missing"
                assert got["unit"] == m["unit"], f"{w}: {m['name']} unit {got['unit']}"
            rec = json.load(open(os.path.join(ROOT, ".bench_out", f"{w}-seed3-trace{trace}.json")))
            for m in rec["metrics"]:
                assert m["unit"] and m["better"] in ("higher", "lower"), m
            for k in ("cores", "heap_mb", "seed", "input_docs", "git_commit",
                      "host_canary_efficiency"):
                assert k in rec["context"], f"{w}: context lacks {k}"
            if trace == 1:
                names = {m["name"] for m in rec["metrics"]}
                missing = [p for p in PHASES[w] if p not in names]
                assert not missing, f"{w}: traced run lacks {missing}"
                check_spans(os.path.join(ROOT, ".bench_out", f"{w}-seed3-spans.json"), w)
            print(f"ok {w} trace {trace}")

    bare = os.path.join(ROOT, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = run(bare, spec["workloads"][0]["name"], 0)
    shutil.rmtree(bare, ignore_errors=True)
    assert r.returncode != 0 and '"correct"' not in r.stdout, \
        f"run.py should fail in a directory without the library: {r.returncode} {r.stdout}"
    print("ok bare directory fails")


if __name__ == "__main__":
    main()
