#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload fhir_search --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout builds the engine
and the benchmark from source with sbt (into .bench_build/ and the sbt target
directories); later runs reuse the build while the sources are unchanged.
The workload runs in one JVM; its human-readable report goes to stdout as a
`report:` line, and the last line of stdout is the result JSON
(`correct`, `attempted`, `failed`, `metrics`).
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("fhir_search", "fhir_ingest", "corpus_pipeline")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
HEAP = "3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads from the repository and the benchmark."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, limit, stdout):
    """Runs cmd in its own process group; kills the group past `limit` s."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        log(f"timed out after {limit} s: {cmd[0]}")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -1
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def ensure_build(deadline):
    """Builds unless the last build's sources are unchanged. Returns
    None on failure, else whether it built."""
    stamp = os.path.join(BUILD, "stamp")
    want = digest()
    if os.path.exists(stamp) and open(stamp).read() == want and \
            os.path.exists(os.path.join(BUILD, "classpath.txt")):
        return False
    if shutil.which("sbt") is None:
        log("sbt not found on PATH")
        return None
    os.makedirs(BUILD, exist_ok=True)
    log("building the engine and the benchmark from source")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dperfbench.out={BUILD}", "writeLauncher"]
    rc = run_bounded(cmd, HERE, max(1, deadline - time.time()), sys.stderr)
    if rc != 0:
        log(f"build failed ({rc})")
        return None
    with open(stamp, "w") as fh:
        fh.write(want)
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind through run_bounded, which stops the child group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    start = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no engine sources under {ROOT}: run from a checkout of the repository")
        return 2
    built = ensure_build(start + BUILD_LIMIT_S)
    if built is None:
        return 3

    with open(os.path.join(BUILD, "classpath.txt")) as fh:
        cp = [l.strip() for l in fh if l.strip()]
    with open(os.path.join(BUILD, "jvmopts.txt")) as fh:
        opts = [l.strip() for l in fh if l.strip()]
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", tag)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(BUILD, "results", f"{tag}.result.json")
    report = os.path.join(BUILD, "results", f"{tag}.report.json")
    for f in (result, report):
        if os.path.exists(f):
            os.remove(f)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] + opts + [
        "-cp", os.pathsep.join(cp), "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--result", result, "--report", report]
    if a.trace:
        cmd += ["--trace-out", os.path.join(BUILD, "traces", f"{tag}.trace.json")]
    # the JVM's output goes to stderr: stdout carries only the report line
    # and the result line. A run that built first may use the rest of the
    # first run's allowance.
    deadline = start + (BUILD_LIMIT_S + 50 if built else RUN_LIMIT_S)
    rc = run_bounded(cmd, ROOT, max(1, deadline - time.time()), sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(result):
        log(f"workload run failed ({rc})")
        return 4
    with open(report) as fh:
        print("report: " + fh.read().strip())
    with open(result) as fh:
        line = json.dumps(json.loads(fh.read()), separators=(",", ":"))
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
