#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload gdx|ops_mix \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program from
../src with perfbench/build.sbt (offline sbt); later runs reuse the build
while the sources are unchanged. Each run starts one JVM with one Spark
session, generates its gdx inputs from --seed under perfbench/work/
(ops_mix reads the fixed tables in perfbench/data/), and removes them
when it ends. A traced run also leaves its span file under
perfbench/out/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "perfbench.stamp")
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("gdx", "ops_mix")
END_TO_END_UNITS = {"setup_s": "s", "p50_ms": "ms", "tail_ms": "ms", "rec_per_s": "1/s"}
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    if name in END_TO_END_UNITS:
        return END_TO_END_UNITS[name]
    if name.endswith(("_share", "_ratio")) or name.startswith("trace.overhead."):
        return "ratio"
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_bytes", "B"),
                         ("_mb", "MB"), ("bytes_per_rec", "B/rec")):
        if name.endswith(suffix):
            return unit
    return "count"


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Run a child process to completion; kill and reap it on timeout."""
    p = subprocess.Popen(cmd, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        p.kill()
        p.wait()
        raise


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        die("program sources (src/main/scala/graft, build.sbt) not found next to perfbench/")
    want = digest()
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP) and open(STAMP).read() == want:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("[perfbench] building (sbt launchSpec)", file=sys.stderr)
    with open(os.devnull, "rb") as devnull:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                         BUILD_TIMEOUT_S, cwd=HERE, env=env, stdin=devnull, stdout=sys.stderr)
    if code != 0 or not os.path.isfile(LAUNCH):
        die(f"build failed (sbt exit {code})")
    with open(STAMP, "w") as fh:
        fh.write(want)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    build()
    with open(LAUNCH) as fh:
        lines = [l.rstrip("\n") for l in fh if l.strip()]
    classpath, jvm_opts = lines[0], lines[1:]

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, "result.json")
    spans = os.path.join(HERE, "out", f"spans-{a.workload}-{a.seed}.jsonl")
    if a.trace == "1":
        os.makedirs(os.path.dirname(spans), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    # a fixed-size heap and a stop-the-world collector, so heap resizing
    # and concurrent GC threads do not vary from run to run; no perf-data
    # file, so the JVM writes nothing outside the checkout
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", *jvm_opts,
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-cp", classpath, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", work, "--data", DATA, "--result", result, "--spans", spans]
    try:
        with open(log, "w") as lf, open(os.devnull, "rb") as devnull:
            code = run_child(cmd, RUN_TIMEOUT_S, cwd=work, stdin=devnull, stdout=lf, stderr=lf)
        with open(log) as lf:
            text = lf.read()
        for line in text.splitlines():
            if line.startswith("[perfbench]"):
                print(line, file=sys.stderr)
        if code != 0 or not os.path.isfile(result):
            sys.stderr.write(text[-4000:])
            die(f"workload {a.workload} failed (java exit {code})")
        with open(result) as fh:
            r = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(r["metrics"].items())}
    if a.trace == "1":
        print(f"[perfbench] spans: {os.path.relpath(spans, ROOT)}", file=sys.stderr)
    correct = r["failed"] == 0 and r["attempted"] >= 1
    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
