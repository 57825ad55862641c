#!/usr/bin/env python3
"""Steadiness check: two sets of runs of the same code against the
benchmark's own bounds.

  python3 perfbench/tests/steadiness.py [--runs 10] [--sets 2]
      [--workload NAME ...] [--seed-base 1] [--json OUT.json]
      [--from-json OUT.json]

Each set runs the benchmark command from BENCHMARK.json ``--runs``
times per workload, each time with another seed (the same seeds in
every set).  For every end-to-end metric it reports, per set, the
median and the spread: the distance between the first and third
quartile (``statistics.quantiles(values, n=4)``) as a share of the
median.  A metric passes when

* every set's spread is within the metric's bound, and
* no later set's median is worse than the first set's by more than
  the bound (in the metric's ``better`` direction).

A spread below a third of the bound is marked ``steady``.  The exit
code is 1 if any metric fails or any run fails or reports
``correct: false``.  ``--from-json`` re-evaluates recorded results
without running anything.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def worse_by(first: float, later: float, better: str) -> float:
    """How much worse `later` is than `first`, as a share of `first`."""
    if not first:
        return 0.0
    return (later - first) / first if better == "lower" else (first - later) / first


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    out = {"workload": workload, "seed": seed, "rc": p.returncode,
           "elapsed_s": time.time() - t0}
    lines = p.stdout.strip().splitlines()
    try:
        out["result"] = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        out["result"] = None
        out["stderr_tail"] = p.stderr[-2000:]
    return out


def evaluate(bench: dict, runs: list[dict]) -> tuple[bool, list[str]]:
    ok, report = True, []
    for r in runs:
        res = r["result"]
        if r["rc"] != 0 or res is None or not res["correct"] or res["failed"]:
            ok = False
            report.append(f"FAIL run {r['workload']} seed {r['seed']}: rc={r['rc']} "
                          f"result={res and {k: res[k] for k in ('correct', 'failed')}}")
    workloads = sorted({r["workload"] for r in runs})
    for w in workloads:
        sets = sorted({r["set"] for r in runs if r["workload"] == w})
        for m in bench["end_to_end"]:
            name, bound, better = m["name"], m["bound"], m["better"]
            per_set = []
            for s in sets:
                vals = [r["result"]["metrics"][name]["value"] for r in runs
                        if r["workload"] == w and r["set"] == s and r["result"]]
                if len(vals) < 2:
                    continue
                per_set.append((statistics.median(vals), spread(vals)))
            if not per_set:
                continue
            line = [f"{w:10s} {name:14s} bound {bound:.2f}"]
            for k, (med, sp) in enumerate(per_set):
                tag = "steady" if sp < bound / 3 else ("ok" if sp <= bound else "WIDE")
                if tag == "WIDE":
                    ok = False
                line.append(f"set{k + 1} median {med:.4g} spread {sp:.3f} {tag}")
            for k, (med, _) in enumerate(per_set[1:], start=2):
                drift = worse_by(per_set[0][0], med, better)
                if drift > bound:
                    ok = False
                    line.append(f"set{k} WORSE by {drift:.3f}")
                else:
                    line.append(f"set{k} drift {drift:+.3f}")
            report.append(" | ".join(line))
    return ok, report


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workload", action="append", default=None)
    ap.add_argument("--seed-base", type=int, default=1)
    ap.add_argument("--json", default=None, help="write every run's result here")
    ap.add_argument("--from-json", default=None, help="evaluate recorded results")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    if args.from_json:
        with open(args.from_json, encoding="utf-8") as fh:
            runs = json.load(fh)["runs"]
    else:
        workloads = args.workload or [w["name"] for w in bench["workloads"]]
        runs = []
        for s in range(args.sets):
            for w in workloads:
                for k in range(args.runs):
                    r = run_once(bench, w, args.seed_base + k)
                    r["set"] = s
                    runs.append(r)
                    res = r["result"]
                    print(f"set {s + 1} {w} seed {r['seed']}: rc {r['rc']} "
                          f"{r['elapsed_s']:.1f} s "
                          f"{res and {k2: round(v['value'], 4) for k2, v in res['metrics'].items()}}",
                          flush=True)
                    if args.json:
                        with open(args.json, "w", encoding="utf-8") as fh:
                            json.dump({"runs": runs}, fh, indent=1)
    ok, report = evaluate(bench, runs)
    print("\n".join(report))
    print("PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
