#!/usr/bin/env python3
"""graft benchmark.

    python3 graftbench/run.py --workload {stream_ingest,dashboard_reads,curation}
                              --seed N --seconds S --trace {0,1}

Builds graft from source (see build.py), runs one workload in one JVM
(local[nproc], shuffle partitions = nproc), checks its outputs and
prints one JSON line last: correct, attempted, failed and the metrics
(end-to-end with --trace 0, per-layer with --trace 1). The full receipt
(run stamp, per-op times, failures, trace) goes to
.bench_build/receipts/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

WORKLOADS = ("stream_ingest", "dashboard_reads", "curation")
DEADLINE_S = 170
# A fixed-size heap: no heap resizing between runs, so GC work does not
# depend on when the heap happened to grow. It is not pre-touched, so the
# resident set follows the memory the run actually uses.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss16m"]
# Spark on JDK 17 outside spark-submit needs these (as in the repo's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test knobs
    ap.add_argument("--tiny", type=int, choices=(0, 1), default=0, help=argparse.SUPPRESS)
    ap.add_argument("--inject", choices=("", "throw", "wrong"), default="", help=argparse.SUPPRESS)
    ap.add_argument("--record", type=int, choices=(0, 1), default=0, help=argparse.SUPPRESS)
    return ap.parse_args()


def stop(proc):
    """Kill the JVM's process group and wait for it."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()


def main():
    a = parse()
    started = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("graftbench: graft sources (src/main/scala/graft) not found next to graftbench/")
    from build import build, java
    cp = build(ROOT)
    built = time.time()

    bench = os.path.join(ROOT, ".bench_build")
    work = os.path.join(bench, "work-%s-%d" % (a.workload, os.getpid()))
    logs = os.path.join(bench, "logs")
    receipts = os.path.join(bench, "receipts")
    for d in (work, logs, receipts):
        os.makedirs(d, exist_ok=True)
    tag = "%s-seed%d-trace%d%s" % (a.workload, a.seed, a.trace, "-tiny" if a.tiny else "")
    out = os.path.join(work, "result.json")
    cores = len(os.sched_getaffinity(0))
    cmd = [java()] + JVM_OPTS
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out,
            "--expected", os.path.join(HERE, "curation_expected.tsv"),
            "--cores", str(cores), "--tiny", str(a.tiny), "--record", str(a.record)]
    if a.inject:
        cmd += ["--inject", a.inject]
    log_path = os.path.join(logs, tag + ".log")
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                    env=env, start_new_session=True)
            try:
                proc.wait(timeout=max(10.0, DEADLINE_S - (time.time() - built)))
            except subprocess.TimeoutExpired:
                stop(proc)
                sys.exit("graftbench: run exceeded its deadline; log: %s" % log_path)
            finally:
                stop(proc)
        if proc.returncode != 0 or not os.path.exists(out):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            sys.exit("graftbench: JVM exited with %s; log: %s" % (proc.returncode, log_path))
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["stamp"]["build_s"] = round(built - started, 3)
    with open(os.path.join(receipts, tag + ".json"), "w") as f:
        json.dump(res, f)
    for msg in res["failures"]:
        print("FAILED: " + msg, file=sys.stderr)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
