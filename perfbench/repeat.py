#!/usr/bin/env python3
"""Run the benchmark several times per workload and summarize the spread.

    python3 perfbench/repeat.py --workloads batch_planted stream_planted \
        --seeds 1 2 3 4 5 6 7 8 9 10 --out results.jsonl

Each run is one ``perfbench/run.py`` process (from the repository root);
its result line is appended to ``--out`` as ``{"workload", "seed",
"trace", "wall_s", "result"}``. The summary gives, per workload and
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median
as ``statistics.quantiles(values, n=4)`` computes it, against the metric's
bound in BENCHMARK.json.
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


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def summarize(records: list[dict], spec: dict) -> dict:
    """{workload: {metric: {median, spread, bound, n}}} over the records'
    untraced runs."""
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out: dict[str, dict] = {}
    for rec in records:
        if rec["trace"]:
            continue
        for name, m in rec["result"]["metrics"].items():
            out.setdefault(rec["workload"], {}).setdefault(name, []).append(
                m["value"])
    return {
        w: {name: {"median": statistics.median(v),
                   "spread": spread(v) if len(v) >= 2 else 0.0,
                   "bound": bounds.get(name), "n": len(v)}
            for name, v in ms.items()}
        for w, ms in out.items()
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs="+", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    records = []
    for seed in args.seeds:
        for w in args.workloads:
            t0 = time.perf_counter()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                 w, "--seed", str(seed), "--seconds",
                 str(spec["run_seconds"]), "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True)
            wall = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {proc.returncode}\n"
                      f"{proc.stderr[-2000:]}", file=sys.stderr)
                return 1
            rec = {"workload": w, "seed": seed, "trace": args.trace,
                   "wall_s": round(wall, 1), "result": json.loads(lines[-1])}
            records.append(rec)
            with open(args.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            vals = {k: round(v["value"], 3)
                    for k, v in rec["result"]["metrics"].items()}
            print(f"{w} seed {seed}: {wall:.0f} s, correct="
                  f"{rec['result']['correct']} {vals if not args.trace else ''}",
                  flush=True)
    for w, ms in summarize(records, spec).items():
        for name, s in ms.items():
            print(f"{w:16s} {name:22s} median {s['median']:12.3f}  "
                  f"spread {s['spread']:.3f}  bound {s['bound']}  n={s['n']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
