#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics. Run from a checkout root:

    python3 perfbench/spread.py <label> [--runs 10] [--first-seed 1] [workload ...]

Runs the benchmark --runs times per workload, one seed each, untraced, for
BENCHMARK.json's run_seconds. For every end-to-end metric it prints the
median and the quartile spread, (Q3 - Q1) / median, with quartiles from
statistics.quantiles(values, n=4). The spread is flagged when it reaches a
third of the metric's bound; setup_s is exempt. All values go to
<build dir>/spread-<label>.json. Given a second label with --against, it also
prints each median's change from that set's median as a share of it.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
BDIR = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("label")
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--against")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = a.workloads or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    out = {}
    t0 = time.time()
    for w in names:
        vals = {m: [] for m in bounds}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed",
                                str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                               capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: FAILED ({p.stderr.strip().splitlines()[-1:]})")
                continue
            r = json.loads(lines[-1])
            if not r["correct"] or r["failed"]:
                print(f"{w} seed {seed}: incorrect ({r['failed']} of {r['attempted']} ops failed)")
            for m, v in r["metrics"].items():
                vals[m].append(v["value"])
        out[w] = vals
        for m, xs in vals.items():
            if len(xs) < 4:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            flag = "" if m == "setup_s" or spread < bounds[m]["bound"] / 3 else "  <-- spread >= bound/3"
            print(f"{w:15s} {m:18s} median {med:10.4f}  spread {spread:6.3f}  bound {bounds[m]['bound']}{flag}")
    with open(os.path.join(BDIR, f"spread-{a.label}.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"{time.time() - t0:.0f}s for {a.runs} runs x {len(names)} workloads")
    if a.against:
        old = json.load(open(os.path.join(BDIR, f"spread-{a.against}.json")))
        for w in names:
            for m, xs in out[w].items():
                ys = old.get(w, {}).get(m, [])
                if len(xs) >= 4 and len(ys) >= 4:
                    new_med = statistics.quantiles(xs, n=4)[1]
                    old_med = statistics.quantiles(ys, n=4)[1]
                    worse = (new_med - old_med) / old_med
                    if bounds[m]["better"] == "higher":
                        worse = -worse
                    flag = "  <-- worse than bound" if worse > bounds[m]["bound"] else ""
                    print(f"{w:15s} {m:18s} {a.label} vs {a.against}: {worse:+.3f}{flag}")


if __name__ == "__main__":
    main()
