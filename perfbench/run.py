#!/usr/bin/env python3
"""One benchmark run of rapiddocspark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline); later runs reuse the build while
the sources are unchanged. Each run is one JVM at local[k], k <= nproc,
with a fixed heap; its inputs, outputs, Spark scratch space and
java.io.tmpdir live in a fresh directory under .bench_build/runs/ that is
deleted when the run ends. Traced runs keep their spans under
.bench_build/traces/. The last line of standard output is the result JSON.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("extract_commit", "crawl_ingest", "dedup_chain")
HEAP = "3g"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """sha256 over every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Compiles with sbt when the sources changed; returns the classpath."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false", "-J-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    print(f"perfbench: building ({' '.join(cmd)})", file=sys.stderr)
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, text=True, timeout=840)
    sys.stderr.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def source_id(digest):
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if sha.returncode == 0:
            return "git:" + sha.stdout.strip()
    except OSError:
        pass
    return "sha256:" + digest[:16]


def clear_stale_runs(runs):
    """Work dirs of runs that were killed: a run never lives past 15 min."""
    if not os.path.isdir(runs):
        return
    for d in os.listdir(runs):
        path = os.path.join(runs, d)
        if time.time() - os.path.getmtime(path) > 900:
            shutil.rmtree(path, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if args.seconds <= 0:
        fail("--seconds must be positive")
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"no program sources at {os.path.relpath(PROGRAM_SRC)}; run from a full checkout")
    digest = source_digest()
    cp = build(digest)

    runs = os.path.join(BUILD, "runs")
    clear_stale_runs(runs)
    work = os.path.join(runs, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(work, "tmp"))
    # Fixed generation sizes: the adaptive size policy resizes the young
    # generation over the first minutes of a run, which drifts the timings.
    # Survivor spaces as large as eden and the highest tenuring threshold
    # keep a call's short-lived data out of the old generation, so the
    # after-GC heap reads the data a call holds, not where its promotions
    # happened to fall.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn768m", "-XX:SurvivorRatio=1",
           "-XX:InitialTenuringThreshold=15", "-XX:MaxTenuringThreshold=15",
           "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace, "--work", work,
            "--traces", os.path.join(BUILD, "traces")]
    env = dict(os.environ, LC_ALL="C.UTF-8", PERFBENCH_SOURCE=source_id(digest))
    sys.stdout.flush()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S}s", file=sys.stderr)
        code = 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
