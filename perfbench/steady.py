#!/usr/bin/env python3
"""Steadiness runner: run one workload N times, one seed per run, and
print each metric's median, quartiles and spread (the distance between
the quartiles as a share of the median), beside the bound BENCHMARK.json
sets for it. The bounds were chosen from this output.

    python3 perfbench/steady.py --workload report_stream --runs 10
    python3 perfbench/steady.py --workload query_mix --runs 5 --trace 1

With --trace 1 the per-layer metrics are summarised instead, and the
tracing overhead is the median `trace.round_cpu_s` over the median
`round_cpu_s` of an untraced set (--compare FILE, a summary written by
an untraced invocation).
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
ROOT = os.path.dirname(HERE)


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--compare", default=None,
                    help="summary JSON of an untraced set, for the tracing overhead")
    ap.add_argument("--out", default=None, help="write the summary JSON here")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    attempted = failed = 0
    correct = True
    for i in range(a.runs):
        seed = a.seed0 + i
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        wall = time.perf_counter() - t0
        if p.returncode != 0:
            print(p.stderr[-3000:], file=sys.stderr)
            print(f"run {seed}: exit {p.returncode}", file=sys.stderr)
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        correct &= res["correct"]
        attempted += res["attempted"]
        failed += res["failed"]
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        # wall time is not gated (see README); its spread is shown beside
        walls = [float(line.split()[3]) for line in p.stderr.splitlines()
                 if line.startswith("perfbench: round wall")]
        if walls:
            values.setdefault("(wall) round_s", []).append(statistics.median(walls))
        print(f"seed {seed}: {wall:.1f} s wall, attempted {res['attempted']}, "
              f"failed {res['failed']}, correct {res['correct']}", file=sys.stderr)

    summary = {"workload": a.workload, "runs": a.runs, "seconds": seconds,
               "trace": a.trace, "correct": correct, "attempted": attempted,
               "failed": failed, "metrics": {k: summarize(v) | {"values": v}
                                             for k, v in values.items()}}
    print(f"{a.workload}: {a.runs} runs, failed {failed}/{attempted}, correct {correct}")
    print(f"{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for k, s in summary["metrics"].items():
        b = bounds.get(k)
        flag = "" if b is None or k == "setup_s" or s["spread"] < b / 3 else "  > bound/3"
        print(f"{k:34} {s['median']:12.4g} {s['q1']:12.4g} {s['q3']:12.4g} "
              f"{s['spread']:8.3f} {b if b is not None else '':>6}{flag}")
    if a.compare and a.trace:
        with open(a.compare) as f:
            base = json.load(f)["metrics"]["round_cpu_s"]["median"]
        traced = summary["metrics"]["trace.round_cpu_s"]["median"]
        summary["trace_overhead"] = traced / base - 1
        print(f"tracing overhead on round_cpu_s: {100 * (traced / base - 1):+.1f}% "
              f"({traced:.3f} s traced vs {base:.3f} s untraced)")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
