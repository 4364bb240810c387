#!/usr/bin/env python3
"""Self-test of the graft benchmark at tiny sizes.

    python3 graftbench/selftest.py

Checks that
  * every workload in BENCHMARK.json prints every end-to-end metric (with
    --trace 0) and every per-layer metric (with --trace 1) with its unit,
    with correct=true and no failed op (dashboard_reads: end-to-end only);
  * an injected throwing op and an injected wrong answer each count as a
    failed op (fail_frac rises) on every workload;
  * in a directory holding only BENCHMARK.json and the benchmark's files,
    the command exits non-zero without printing a result.
Takes several minutes: each case is one JVM run at the self-test size
(10 locations and two timed stream batches; a 500-document corpus).
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
failures = []


def run(workload, trace=0, inject="", cwd=ROOT):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7", "--seconds", "2",
                             "--trace", str(trace), "--tiny", "1"]
    if inject:
        cmd += ["--inject", inject]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


def metrics_complete(res, specs, what):
    for m in specs:
        got = res["metrics"].get(m["name"])
        expect(got is not None and got.get("unit") == m["unit"]
               and isinstance(got.get("value"), (int, float)),
               "%s prints %s [%s]" % (what, m["name"], m["unit"]))


for w in [x["name"] for x in SPEC["workloads"]]:
    for trace, specs in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
        code, res, err = run(w, trace)
        what = "%s --trace %d" % (w, trace)
        expect(code == 0 and res is not None, what + " exits 0 with a result")
        if res:
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   what + " is correct with no failed op")
            metrics_complete(res, specs, what)
    for inject in ("throw", "wrong"):
        code, res, err = run(w, 0, inject)
        expect(code == 0 and res is not None and res["failed"] >= 1 and not res["correct"]
               and res["failed"] / res["attempted"] > 0,
               "%s: an injected %s op raises fail_frac" % (w, inject))

# dashboard_reads is not in BENCHMARK.json (see README.md) but stays runnable
code, res, err = run("dashboard_reads")
expect(code == 0 and res is not None and res["correct"] and res["failed"] == 0,
       "dashboard_reads --trace 0 is correct with no failed op")
if res:
    metrics_complete(res, SPEC["end_to_end"], "dashboard_reads --trace 0")

bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
shutil.rmtree(bare, ignore_errors=True)
os.makedirs(bare)
shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
for p in SPEC["paths"]:
    shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                    ignore=shutil.ignore_patterns("__pycache__"))
code, res, err = run(SPEC["workloads"][0]["name"], cwd=bare)
expect(code != 0 and res is None, "without graft's sources the command fails without a result")
shutil.rmtree(bare, ignore_errors=True)

print("%d failure(s)" % len(failures))
sys.exit(1 if failures else 0)
