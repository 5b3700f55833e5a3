#!/usr/bin/env python3
"""Steadiness check for the benchmark: repeated runs of one commit must
agree within the bounds that BENCHMARK.json fixes.

    python3 perfbench/test_steadiness.py                 # 2 x 10 seeds, every workload
    python3 perfbench/test_steadiness.py --runs 5 --workloads cdc_tail

Run from the repository root. For each workload it makes two sets of runs,
one seed each, with the two sets' runs interleaved so that a drift of the
machine's speed during the check falls on both alike. For every end-to-end
metric it takes each set's spread: the distance between the first and
third quartile as a share of the median. The check fails when a spread
exceeds the metric's bound, when the second set's median is worse than the
first's by more than the bound, or when a run fails or reports an
incorrect output.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.getcwd()


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(spec, workload, seed):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"FAIL {workload} seed {seed}: exit {proc.returncode}")
    res = json.loads(lines[-1])
    if not res["correct"] or res["failed"]:
        raise SystemExit(f"FAIL {workload} seed {seed}: {res['failed']} of {res['attempted']} failed")
    return {k: v["value"] for k, v in res["metrics"].items()}


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse(first, second, better):
    """How much worse the second median is than the first, as a share."""
    return (second - first) / first if better == "lower" else (first - second) / first


def main():
    spec = load_spec()
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()
    ok = True
    for wl in args.workloads:
        sets = ([], [])
        for i in range(args.runs):
            for s in (0, 1):
                seed = args.first_seed + s * args.runs + i
                sets[s].append(run_once(spec, wl, seed))
                print(f"{wl} set {s + 1} seed {seed}: "
                      + ", ".join(f"{k}={v:.4g}" for k, v in sets[s][-1].items()), flush=True)
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds = []
            for s, runs in enumerate(sets):
                vals = [r[name] for r in runs]
                sp = spread(vals)
                meds.append(statistics.median(vals))
                ok &= sp <= bound
                print(f"{'FAIL' if sp > bound else 'ok  '} {wl} {name} set {s + 1}: "
                      f"median {meds[-1]:.6g}, spread {sp:.3f} (bound {bound})")
            w = worse(meds[0], meds[1], m["better"])
            ok &= w <= bound
            print(f"{'FAIL' if w > bound else 'ok  '} {wl} {name}: second median worse by {w:.3f} "
                  f"(bound {bound})")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
