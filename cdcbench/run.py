#!/usr/bin/env python3
"""Run one workload of the CDC materialization benchmark.

    python3 cdcbench/run.py --workload many_tables --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (offline, from the local dependency
cache) into `.bench_build/cdcbench`; later runs reuse that build until a
source file changes. Each run starts one JVM with a heap sized from the
machine's memory and at most `nproc` cores, keeps its sink tables,
checkpoints and Spark scratch files in a temporary directory under
`.bench_build/cdcbench` that it removes at exit, and prints the JSON
result line as the last line of its standard output.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(REPO, "src", "main", "scala")
OUT = os.path.join(REPO, ".bench_build", "cdcbench")
WORKLOADS = ("many_tables", "hot_keys", "large_table")
BUILD_LIMIT_S = 880
RUN_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[cdcbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [PROGRAM_SRC, os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; return the runtime classpath."""
    stamp = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"])
    log("building the program and the benchmark (sbt compile)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_LIMIT_S, start_new_session=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1].strip()


def cores():
    """Two task threads, or one on a one-core machine. Spark's driver-side
    threads (the pipeline's per-table fan-out, planning, the collector,
    the compiler) already keep about two cores busy, so more task threads
    only oversubscribe a small machine and make every time depend on how
    the scheduler places them."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(n, 2))


def heap():
    """A quarter of the machine's memory, between 2 and 6 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kib = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "2g"
    return f"{max(2, min(6, kib // (4 * 1024 * 1024)))}g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="Spark local[n] threads; default min(nproc, 2)")
    args = ap.parse_args()

    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"program sources not found at {PROGRAM_SRC}: run from a full checkout")
    classpath = build()
    launch_ms = int(time.time() * 1000)

    os.makedirs(OUT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=OUT)
    spans = os.path.join(OUT, "spans", f"{args.workload}-seed{args.seed}.jsonl")
    # A fixed heap and young generation make the collector's work the same
    # from run to run. The heap is touched whole at start, so the peak
    # resident set does not depend on how far the old generation has
    # grown when the run ends, and malloc keeps two arenas, so native
    # memory does not depend on which threads happened to allocate.
    h = heap()
    cmd = ["java", f"-Xms{h}", f"-Xmx{h}", "-Xmn512m", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch",
           "-Djava.io.tmpdir=" + work, "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "cdcbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(args.cores or cores()), "--launch-ms", str(launch_ms),
            "--work-dir", work]
    if args.trace:
        cmd += ["--spans", spans]
    proc = subprocess.Popen(cmd, cwd=REPO, stdout=subprocess.PIPE, text=True,
                            env=dict(os.environ, MALLOC_ARENA_MAX="2"), start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"{args.workload}: no result within {RUN_LIMIT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"{args.workload}: the run failed (exit code {proc.returncode})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"malformed result line: {lines[-1]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
