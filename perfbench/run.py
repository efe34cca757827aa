#!/usr/bin/env python3
"""Benchmark command for the graft library.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library from the checkout's sources together with the harness in
perfbench/ (cached in the build directory until a source changes), runs the
workload in a fresh JVM on local[<cores>], and prints one JSON line as the
last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports every end-to-end metric of BENCHMARK.json, --trace 1 every
per-layer metric. The full run record goes to <build dir>/records/. The build
directory is $CARGO_TARGET_DIR, or .bench_build, inside the checkout; every
file the run writes is under it.

Extra flags for the harness' own smoke test (perfbench/smoke.py):
--scale tiny shrinks every input, --corrupt 1 corrupts one observed output
per timed op so its check must fail.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HEAP = "2g"  # fixed, recorded in every run record
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    tops = ["src/main", "perfbench/src", "perfbench/build.sbt",
            "perfbench/project/build.properties"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, bdir):
    """Compile library + harness once per source state; returns the classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    env["GRAFTBENCH_TARGET"] = os.path.join(bdir, "target")
    log = os.path.join(bdir, "build.log")
    t0 = time.time()
    with open(log, "w") as fh:
        # own process group: on timeout the launcher script and the JVM it
        # started are stopped together
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=fh,
            stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"build exceeded {BUILD_TIMEOUT_S}s; see {log}", 4)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    cp = next((l for l in reversed(lines)
               if not l.startswith("[") and ".jar" in l), None)
    if rc != 0 or cp is None:
        fail(f"build failed (exit {rc}); see {log}", 4)
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    ap.add_argument("--corrupt", choices=["0", "1"], default="0")
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt",
                 "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"not a graft checkout: {need} is missing under {root}")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]

    bdir = os.path.abspath(os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(bdir, exist_ok=True)
    cp = build(root, bdir)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{a.scale}{'-corrupt' if a.corrupt == '1' else ''}"
    work = os.path.join(bdir, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    for d in ("records", "logs"):
        os.makedirs(os.path.join(bdir, d), exist_ok=True)
    record = os.path.join(bdir, "records", f"{tag}.json")
    if os.path.exists(record):
        os.remove(record)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           "-Dspark.callstack.depth=200",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dderby.system.home=" + work,
           "-Dgraftbench.src=" + os.path.join(root, "src/main/scala")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--record", record, "--scale", a.scale,
            "--corrupt", a.corrupt]
    t0 = time.time()
    with open(os.path.join(bdir, "logs", f"{tag}.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"{tag}: JVM exceeded {JVM_TIMEOUT_S}s", 5)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(record):
        fail(f"{tag}: JVM exited {rc}; see {bdir}/logs/{tag}.log", 6)
    with open(record) as fh:
        rec = json.load(fh)
    rec["wall_s"] = time.time() - t0
    rec["heap"] = HEAP
    with open(record, "w") as fh:
        json.dump(rec, fh, indent=1)

    # every metric asked for, or no result at all
    source = rec["per_layer"] if a.trace == "1" else rec["metrics"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            fail(f"{tag}: metric {m['name']} missing or not finite ({v!r}); record {record}", 7)
        if a.trace == "0" and v <= 0:
            fail(f"{tag}: end-to-end metric {m['name']} is {v}; record {record}", 7)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(f"[perfbench] {tag}: {rec['attempted']} ops, {rec['failed']} failed, "
          f"wall {rec['wall_s']:.1f}s, record {os.path.relpath(record, root)}", file=sys.stderr)
    for f in rec.get("failures", [])[:5]:
        print(f"[perfbench]   {f}", file=sys.stderr)
    print(json.dumps({"correct": bool(rec["correct"]), "attempted": int(rec["attempted"]),
                      "failed": int(rec["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
