#!/usr/bin/env python3
"""Same-window A/B of the graft benchmark between two commits.

    python3 scripts/bench_ab.py [--base HEAD~1] [--head HEAD]
                                [--workloads curation,stream_ingest]
                                [--seeds 10] [--trace 0] [--workdir DIR]

Exports both commits with `git archive` into a scratch directory (the
committed files only, like a fresh clone; kept only when `--workdir` is
given), then runs BENCHMARK.json's `command` with its `run_seconds` in
each, alternating the order per seed
(base first on even seeds, head first on odd ones) so host drift
falls on both sides. For every workload and metric it prints the base
and head medians with their quartiles, the change of the medians, the
pairs head won (same seed, better in the metric's direction from
BENCHMARK.json) and whether the median gain exceeds the base's
interquartile range. It also prints each side's median peak of the
old-generation heap pool (`heap_pool_peak_mb["PS Old Gen"]` in the run
receipt's stamp), so a memory change shows its mechanism next to
`peak_rss_mb`, and, per op kind in the receipts' `ops`, each side's
median of the per-run medians with the pairs head won, so a change in
`op_p50_s` or `op_tail_s` names the op that moved. Neither checkout's `graftbench/` nor
`BENCHMARK.json` is modified; `--out FILE` also writes every run's
metrics as JSON.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OLD_GEN = "PS Old Gen"


def parse():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", default="HEAD~1", help="base revision (default HEAD~1)")
    ap.add_argument("--head", default="HEAD", help="head revision (default HEAD)")
    ap.add_argument("--workloads", default="curation,stream_ingest")
    ap.add_argument("--seeds", type=int, default=10, help="pairs per workload")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", help="export the commits here and keep them "
                    "(default: a temp dir, removed afterwards)")
    ap.add_argument("--out", help="write all runs' metrics to this JSON file")
    return ap.parse_args()


def export(rev, dest):
    """The committed tree of `rev` in `dest` (no .git, no build outputs)."""
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev], check=True,
                             stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", rev], check=True,
                         stdout=subprocess.PIPE, text=True).stdout.strip()
    return sha


def run(checkout, spec, workload, seed, trace):
    """One benchmark run; its last stdout line parsed, or None if it failed."""
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write("run failed (%s, %s, seed %d):\n%s\n" % (checkout, workload, seed, p.stderr[-2000:]))
        return None
    res = json.loads(lines[-1])
    if not res.get("correct", False) or res.get("failed", 0):
        sys.stderr.write("incorrect or failed ops (%s, %s, seed %d): %s\n"
                         % (checkout, workload, seed, p.stderr[-2000:]))
    receipt = os.path.join(checkout, ".bench_build", "receipts",
                           "%s-seed%d-trace%d.json" % (workload, seed, trace))
    with open(receipt) as f:
        rec = json.load(f)
    res["stamp"] = rec["stamp"]
    res["ops"] = rec.get("ops", [])
    return res


def op_medians(res):
    """Median seconds per op kind over one run's timed pass (pass 0), successful ops only."""
    by_kind = {}
    for _, pass_, kind, seconds, ok in res.get("ops", []):
        if pass_ == 0 and ok:
            by_kind.setdefault(kind, []).append(seconds)
    return {k: statistics.median(v) for k, v in by_kind.items()}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(workload, metrics, runs):
    """Per-metric medians, quartiles, pairs won and the IQR test."""
    print("\n## %s (%d pairs)" % (workload, len(runs)))
    print("%-38s %26s %26s %8s %6s %s" % ("metric", "base median [q1, q3]", "head median [q1, q3]",
                                          "change", "won", "gain > base IQR"))
    for name, better in metrics:
        pairs = [(b["metrics"][name]["value"], h["metrics"][name]["value"]) for b, h in runs
                 if b and h and name in b["metrics"] and name in h["metrics"]]
        if not pairs:
            continue
        base = [p[0] for p in pairs]
        head = [p[1] for p in pairs]
        bq1, bmed, bq3 = quartiles(base)
        hq1, hmed, hq3 = quartiles(head)
        sign = 1 if better == "lower" else -1
        won = sum(1 for b, h in pairs if sign * (b - h) > 0)
        gain = sign * (bmed - hmed)
        change = (hmed - bmed) / bmed * 100 if bmed else 0.0
        print("%-38s %9.4g [%6.4g, %6.4g] %9.4g [%6.4g, %6.4g] %+7.1f%% %2d/%-3d %s"
              % (name, bmed, bq1, bq3, hmed, hq1, hq3, change, won, len(pairs),
                 "yes" if gain > (bq3 - bq1) else "no"))
    old_gen = [[r["stamp"]["heap_pool_peak_mb"][OLD_GEN] for r in side
                if r and OLD_GEN in r["stamp"]["heap_pool_peak_mb"]] for side in zip(*runs)]
    if len(old_gen) == 2 and all(old_gen):
        print("%-38s %9.4g MB (base) %9.4g MB (head), median of the receipts' stamps"
              % ("heap_pool_peak_mb[%s]" % OLD_GEN, statistics.median(old_gen[0]),
                 statistics.median(old_gen[1])))
    per_op = [(op_medians(b), op_medians(h)) for b, h in runs if b and h]
    kinds = sorted({k for b, h in per_op for k in b if k in h})
    if kinds:
        print("%-38s %26s %26s %8s %6s" % ("op kind (s, median of run medians)", "base median [q1, q3]",
                                           "head median [q1, q3]", "change", "won"))
    for kind in kinds:
        pairs = [(b[kind], h[kind]) for b, h in per_op if kind in b and kind in h]
        bq1, bmed, bq3 = quartiles([p[0] for p in pairs])
        hq1, hmed, hq3 = quartiles([p[1] for p in pairs])
        won = sum(1 for b, h in pairs if h < b)
        change = (hmed - bmed) / bmed * 100 if bmed else 0.0
        print("%-38s %9.4g [%6.4g, %6.4g] %9.4g [%6.4g, %6.4g] %+7.1f%% %2d/%-3d"
              % (kind, bmed, bq1, bq3, hmed, hq1, hq3, change, won, len(pairs)))
    failed = sum(1 for b, h in runs if not b or not h or b.get("failed") or h.get("failed"))
    if failed:
        print("pairs with a failed or missing run: %d" % failed)


def main():
    a = parse()
    work = a.workdir or tempfile.mkdtemp(prefix="graft-ab-")
    sides = {}
    for side, rev in (("base", a.base), ("head", a.head)):
        dest = os.path.join(work, side)
        if os.path.exists(dest):
            shutil.rmtree(dest)
        sides[side] = (dest, export(rev, dest))
    with open(os.path.join(sides["head"][0], "BENCHMARK.json")) as f:
        spec = json.load(f)
    print("base %s, head %s, %d seeds, %s --seconds %d --trace %d"
          % (sides["base"][1], sides["head"][1], a.seeds, " ".join(spec["command"]),
             spec["run_seconds"], a.trace))
    metrics = [(m["name"], m["better"]) for m in spec["end_to_end" if a.trace == 0 else "per_layer"]]
    everything = {}
    try:
        for workload in a.workloads.split(","):
            runs = []
            for seed in range(1, a.seeds + 1):
                order = ("base", "head") if seed % 2 == 0 else ("head", "base")
                got = {}
                for side in order:
                    got[side] = run(sides[side][0], spec, workload, seed, a.trace)
                runs.append((got["base"], got["head"]))
                print("%s seed %d done" % (workload, seed), file=sys.stderr)
            everything[workload] = [{"seed": i + 1, "base": b, "head": h} for i, (b, h) in enumerate(runs)]
            report(workload, metrics, runs)
    finally:
        if a.out:
            with open(a.out, "w") as f:
                json.dump({"base": sides["base"][1], "head": sides["head"][1], "runs": everything}, f)
        if not a.workdir:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
