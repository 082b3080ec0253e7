#!/usr/bin/env python3
"""Paired A/B of the working tree against a git revision on one perfbench workload.

    python3 tools/ab.py --base <rev> --workload curate --pairs 5 [--trace 0|1] [--tiny]

Run from the root of a checkout. The base side (A) is `git archive <rev>`
unpacked into a temporary directory; the change side (B) is this working
tree. Each side is built once (perfbench/build.py) before any run. Then
--pairs pairs of `perfbench/run.py` runs follow, one JVM at a time, in ABBA
order (pair 1 runs A then B, pair 2 runs B then A, ...). Pair i uses seed
--first-seed + (i mod 10), so both sides of a pair see the same input. The
run length is BENCHMARK.json's run_seconds.

For every run it records the result line of run.py, the host canary from the
run record, and the share of CPU time the hypervisor stole from this guest
during the run (the `steal` column of /proc/stat, read before and after).
A pair is flagged when either of its runs lost more than STEAL_FLAG of the
CPU time to steal; the per-run lines and the JSON summary mark it.

For every metric in the result lines it prints each side's median and
quartiles, the median of the paired ratios B/A with their min-max, and how
many pairs favoured the change (by the metric's direction in
BENCHMARK.json; an equal pair favours neither). Beside the paired ratios
over all pairs it prints their median and min-max over the unflagged
pairs only. With --trace 1 the metrics are BENCHMARK.json's per-layer
metrics. The last stdout line is a JSON summary. The exit code is 1 when
any run failed or was not correct.

--tiny passes --tiny to run.py (a smoke test of this tool; its numbers are
not comparable with full runs).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a run that lost more than this share of CPU time to steal measured the
# host, not the code: one 0.152-steal run gave an A/B's largest ratio
STEAL_FLAG = 0.05


def cpu_times():
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    assert fields[0] == "cpu"
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user/nice, so the total stops at steal
    vals = [int(x) for x in fields[1:9]]
    return vals[7], sum(vals)


def build(tree):
    r = subprocess.run([sys.executable, "perfbench/build.py"], cwd=tree,
                       stdout=subprocess.DEVNULL, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"ab: build failed in {tree}")


def run_once(tree, workload, seed, seconds, trace, tiny):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    if tiny:
        cmd.append("--tiny")
    steal0, total0 = cpu_times()
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    steal1, total1 = cpu_times()
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = {"correct": False, "metrics": {}}
    canary = None
    record = os.path.join(tree, ".bench_out", f"{workload}-seed{seed}-trace{trace}.json")
    if os.path.exists(record):
        with open(record) as fh:
            canary = json.load(fh).get("context", {}).get("host_canary_efficiency")
    ok = p.returncode == 0 and result.get("correct") is True
    if not ok:
        sys.stderr.write(p.stderr[-3000:])
    return {
        "correct": ok,
        "metrics": {k: v["value"] for k, v in result.get("metrics", {}).items()},
        "steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "host_canary": canary,
    }


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="git revision of side A")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--tiny", action="store_true")
    a = ap.parse_args()
    if a.pairs < 1:
        sys.exit("ab: --pairs must be at least 1")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"ab: unknown workload {a.workload}")
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    seconds = spec["run_seconds"]

    rev = subprocess.run(["git", "-C", ROOT, "rev-parse", "--verify", a.base + "^{commit}"],
                         capture_output=True, text=True)
    if rev.returncode != 0:
        sys.exit(f"ab: unknown revision {a.base}")
    base_rev = rev.stdout.strip()
    base_tree = tempfile.mkdtemp(prefix="graft-ab-")
    try:
        archive = subprocess.Popen(["git", "-C", ROOT, "archive", base_rev], stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", base_tree], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"ab: git archive {a.base} failed")
        trees = {"A": base_tree, "B": ROOT}
        for side in "AB":
            build(trees[side])

        pairs = []
        for i in range(a.pairs):
            seed = a.first_seed + i % 10
            order = "AB" if i % 2 == 0 else "BA"
            runs = {}
            for side in order:
                runs[side] = run_once(trees[side], a.workload, seed, seconds, a.trace, a.tiny)
                r = runs[side]
                mark = " HEAVY-STEAL" if r["steal_share"] > STEAL_FLAG else ""
                print(f"pair {i + 1} seed {seed} {side}: correct={r['correct']} "
                      f"steal={r['steal_share']:.3f}{mark} canary={r['host_canary']} "
                      f"{json.dumps(r['metrics'])}", flush=True)
            flagged = any(runs[s]["steal_share"] > STEAL_FLAG for s in "AB")
            if flagged:
                print(f"pair {i + 1} flagged: a run's steal share exceeds {STEAL_FLAG}", flush=True)
            pairs.append({"seed": seed, "order": order, "flagged": flagged, **runs})
    finally:
        shutil.rmtree(base_tree, ignore_errors=True)

    summary = {}
    names = sorted(set().union(*(p[s]["metrics"].keys() for p in pairs for s in "AB")))
    flagged_pairs = [i + 1 for i, p in enumerate(pairs) if p["flagged"]]
    print(f"\n{a.workload} trace={a.trace}: A = {a.base} ({base_rev[:12]}), B = working tree, "
          f"{len(pairs)} pairs, flagged for steal > {STEAL_FLAG}: {flagged_pairs or 'none'}")
    print(f"  {'metric':<36} {'A median [q1, q3]':>30} {'B median [q1, q3]':>30} "
          f"{'B/A median (min-max)':>26} {'unflagged B/A':>26} favours B")
    for name in names:
        both = [p for p in pairs if name in p["A"]["metrics"] and name in p["B"]["metrics"]]
        if not both:
            continue
        av = [p["A"]["metrics"][name] for p in both]
        bv = [p["B"]["metrics"][name] for p in both]
        ratios = [b / x for x, b in zip(av, bv) if x]
        clean = [p["B"]["metrics"][name] / p["A"]["metrics"][name] for p in both
                 if not p["flagged"] and p["A"]["metrics"][name]]
        direction = better.get(name, "higher")
        wins = sum(1 for x, b in zip(av, bv) if (b > x if direction == "higher" else b < x))
        row = {"a_median": statistics.median(av), "a_quartiles": quartiles(av),
               "b_median": statistics.median(bv), "b_quartiles": quartiles(bv),
               "ratio_median": statistics.median(ratios) if ratios else None,
               "ratio_min": min(ratios) if ratios else None,
               "ratio_max": max(ratios) if ratios else None,
               "unflagged_ratio_median": statistics.median(clean) if clean else None,
               "unflagged_ratio_min": min(clean) if clean else None,
               "unflagged_ratio_max": max(clean) if clean else None,
               "unflagged_pairs": len(clean),
               "favours_b": wins, "pairs": len(both), "better": direction}
        summary[name] = row
        aq, bq = row["a_quartiles"], row["b_quartiles"]
        ratio = (f"{row['ratio_median']:.3f} ({row['ratio_min']:.3f}-{row['ratio_max']:.3f})"
                 if ratios else "n/a")
        clean_ratio = (f"{row['unflagged_ratio_median']:.3f} "
                       f"({row['unflagged_ratio_min']:.3f}-{row['unflagged_ratio_max']:.3f})"
                       if clean else "n/a")
        print(f"  {name:<36} {row['a_median']:>12.4g} [{aq[0]:.4g}, {aq[1]:.4g}] "
              f"{row['b_median']:>12.4g} [{bq[0]:.4g}, {bq[1]:.4g}] {ratio:>26} "
              f"{clean_ratio:>26} {wins}/{len(both)} ({direction} is better)")
    steals = [p[s]["steal_share"] for p in pairs for s in "AB"]
    print(f"  steal share per run: max {max(steals):.3f}, median {statistics.median(steals):.3f}")
    all_correct = all(p[s]["correct"] for p in pairs for s in "AB")
    print(json.dumps({"workload": a.workload, "trace": int(a.trace), "base": base_rev,
                      "pairs": len(pairs), "correct": all_correct,
                      "seeds": [p["seed"] for p in pairs],
                      "steal_share_max": max(steals), "steal_flag": STEAL_FLAG,
                      "flagged_pairs": flagged_pairs, "metrics": summary}))
    sys.exit(0 if all_correct else 1)


if __name__ == "__main__":
    main()
