#!/usr/bin/env python3
"""Run one benchmark workload from the repository root.

    python3 perfbench/run.py --workload cdc_backlog --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark from source with sbt the first time
(and again whenever a source or build file changes), then runs the
benchmark's JVM main, which prints one JSON result line last on stdout.
Per-run records go to perfbench/results/; `--summary` prints the medians
of those records and the tracing overhead.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
RESULTS = os.path.join(BENCH, "results")
WORKLOADS = ("cdc_backlog", "cdc_tail")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (as in the program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = []
    for pattern in ("build.sbt", "project/*.properties", "project/*.sbt", "src/main/**/*",
                    "perfbench/build.sbt", "perfbench/project/*.properties",
                    "perfbench/src/**/*"):
        files += [f for f in glob.glob(os.path.join(ROOT, pattern), recursive=True)
                  if os.path.isfile(f)]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, cwd, timeout, **kw):
    """Run a child in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def classpath():
    """Build with sbt if needed; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the repository root: the program's build.sbt and src/main/scala are missing")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = (opts + " -Dsbt.server.forcestart=false").strip()
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, timeout=850, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    sys.stderr.write(out[-4000:])
    lines = [l for l in out.splitlines() if l and not l.startswith("[") and ".jar" in l]
    if code != 0 or not lines:
        fail(f"build failed (sbt exit {code})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def java_heap():
    """Half the machine's memory, between 2 and 3 GiB. The heap is fixed at
    that size (-Xms = -Xmx), so that the collector does not resize it during
    a run."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal:")).split()[1])
        gb = max(2, min(3, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"{gb}g"


def run(args):
    cp = classpath()
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = java_heap()
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--cpus", str(cpus),
            "--results", RESULTS]
    try:
        code, out = run_child(cmd, cwd=ROOT, timeout=RUN_TIMEOUT_S,
                              stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    finally:
        # a killed run cannot delete its own scratch files
        shutil.rmtree(os.path.join(BUILD, "work"), ignore_errors=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        fail(f"workload {args.workload} failed (exit {code})")
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    print(lines[-1])


def summary():
    """Medians of the recorded runs per workload, and the tracing overhead:
    the traced runs' end-to-end medians against the untraced ones."""
    out = {}
    for wl in WORKLOADS:
        runs = []
        for f in glob.glob(os.path.join(RESULTS, f"{wl}-seed*-trace[01].json")):
            with open(f) as fh:
                runs.append(json.load(fh))
        if not runs:
            continue
        plain = [r for r in runs if not r["trace"]]
        traced = [r for r in runs if r["trace"]]
        row = {"runs_untraced": len(plain), "runs_traced": len(traced),
               "failed_share": sum(r["failed"] for r in runs) / max(1, sum(r["attempted"] for r in runs))}
        for name, group in (("end_to_end", plain), ("traced_end_to_end", traced)):
            if group:
                keys = group[0]["end_to_end"].keys()
                row[name] = {k: statistics.median(r["end_to_end"][k] for r in group) for k in keys}
        if traced:
            keys = traced[0]["per_layer"].keys()
            row["per_layer"] = {k: statistics.median(r["per_layer"][k] for r in traced) for k in keys}
        if plain and traced:
            row["trace_overhead_share"] = {
                k: row["traced_end_to_end"][k] / row["end_to_end"][k] - 1
                for k in row["end_to_end"] if row["end_to_end"][k]}
        out[wl] = row
    print(json.dumps(out, indent=1, sort_keys=True))


def main():
    # a terminated run still stops its children (run_child's cleanup)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--summary", action="store_true")
    args = ap.parse_args()
    if args.summary:
        summary()
    elif not args.workload:
        fail("--workload is required")
    else:
        run(args)


if __name__ == "__main__":
    main()
