#!/usr/bin/env python3
"""Smoke test of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/smoke.py [workload ...]

For each workload, at tiny scale:
  * a clean run passes every check (correct, no failed op);
  * a run that corrupts one observed output per op fails its checks;
  * a traced run reports every per-layer metric, and its span self-times add
    up to each op's wall time;
  * the same seed gives the same inputs (within a run, three generations are
    compared byte for byte; across runs, the input fingerprints match), and
    another seed gives different inputs.
Finally, the command must fail without a result in a directory that holds
only BENCHMARK.json and perfbench/.
Exits non-zero on the first broken expectation.
"""

import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BDIR = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))


def run(workload, seed, trace="0", corrupt="0", cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", trace, "--scale", "tiny",
           "--corrupt", corrupt]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    tag = f"{workload}-s{seed}-t{trace}-tiny{'-corrupt' if corrupt == '1' else ''}"
    rec_path = os.path.join(BDIR, "records", f"{tag}.json")
    rec = json.load(open(rec_path)) if os.path.exists(rec_path) else None
    return p, result, rec


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        sys.exit(1)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    for w in names:
        p, res, rec = run(w, 1)
        expect(res is not None and res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
               f"{w}: clean run passes its checks ({p.stderr.strip().splitlines()[-1:] if p.stderr else ''})")
        expect(rec["deterministic_inputs"], f"{w}: three generations from one seed are byte-identical")
        # when every op fails there is no latency to report, so the command
        # prints no result; the record still counts the failures
        p, _, bad = run(w, 1, corrupt="1")
        expect(bad is not None and bad["failed"] > 0 and not bad["correct"],
               f"{w}: a corrupted output fails its check ({bad and bad['failed']} of {bad and bad['attempted']} ops)")
        p, tr, trec = run(w, 1, trace="1")
        expect(tr is not None and set(tr["metrics"]) == {m["name"] for m in spec["per_layer"]},
               f"{w}: traced run reports every per-layer metric")
        expect(trec["per_layer"]["trace.self_residual_ms"] < 1.0,
               f"{w}: span self-times add up to op wall time")
        expect(trec["input_sha256"] == rec["input_sha256"], f"{w}: same seed, same inputs across runs")
        p, _, rec2 = run(w, 2)
        expect(rec2 is not None and rec2["input_sha256"] != rec["input_sha256"],
               f"{w}: another seed gives other inputs")

    bare = os.path.join(BDIR, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "project/target"))
    p, _, _ = run(names[0], 1, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(p.returncode != 0 and not p.stdout.strip(),
           f"without the library sources the command fails with no result (exit {p.returncode})")


if __name__ == "__main__":
    main()
