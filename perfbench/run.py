#!/usr/bin/env python3
"""Pipeline benchmark: builds the program and the benchmark from source, runs
one workload and prints its metrics as one JSON object on the last line.

Run from the root of a checkout:

    python3 perfbench/run.py --workload stream_ref_rate --seed 1 --seconds 16 --trace 0

The first run in a checkout compiles with sbt (offline); later runs reuse the
classpath recorded under .bench_build/ for the same sources.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
BUILD_TIMEOUT_S = 700  # so that a first run, build included, ends within 15 minutes
RUN_TIMEOUT_S = 170  # one run ends within 3 minutes
JVM_HEAP = "3g"
# Shenandoah keeps collector pauses near a millisecond. Under the default G1
# the scoring tail measured 8-30 ms young and remark pauses that varied from
# run to run, not the pipeline's own queueing. ZGC pauses as briefly but maps
# its heap three times, which triples the resident size the benchmark reports.
JVM_GC = "-XX:+UseShenandoahGC"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src", "perfbench/build.sbt", "perfbench/project", "perfbench/src"]
    files = []
    for r in roots:
        p = os.path.join(ROOT, r)
        if os.path.isfile(p):
            files.append(p)
        for d, dirs, names in os.walk(p):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles the program and the benchmark; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, f"classpath-{source_digest()}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            classpath = fh.read().strip()
        # sbt's class directories may have been removed since the build
        if all(os.path.exists(p) for p in classpath.split(os.pathsep)):
            return classpath
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    log("building with sbt (first run in this checkout)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        log("build failed")
        sys.exit(3)
    classpath = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    log(f"built in {time.time() - t0:.0f} s")
    return classpath


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    for needed in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            log(f"{needed} not found: run from the root of a checkout of the repository")
            sys.exit(2)

    classpath = build()
    work = os.path.join(BUILD, "run", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"]
    for pkg in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{pkg}=ALL-UNNAMED"]
    cmd += [
        f"-Xmx{JVM_HEAP}",
        JVM_GC,
        "-XX:-UsePerfData",  # otherwise the JVM writes hsperfdata to the system temp dir
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        "-Dspark.ui.enabled=false",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", args.trace, "--launch-ms", str(int(time.time() * 1000)), "--work-dir", work,
        "--trace-file", os.path.join(BUILD, "trace", f"{args.workload}-seed{args.seed}.jsonl"),
    ]
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        sys.exit(4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        log(f"benchmark exited with {proc.returncode}")
        sys.exit(5)
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        log("malformed result line")
        sys.exit(6)
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
