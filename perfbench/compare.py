#!/usr/bin/env python3
"""Compare two benchmark result sets (JSONL files written by repeat.py).

    python3 perfbench/compare.py parent.jsonl change.jsonl

Per workload and end-to-end metric: each side's median and quartile
spread, the change as a share of the parent's median, and a verdict
against the metric's bound in BENCHMARK.json: ``regression`` when the
change is worse than the bound, ``unresolved`` when either side's spread
is wider than the bound, else ``within-bound`` or ``better``.

Two sets that share no workload, or a workload whose two sides share no
metric name, are not comparable: the script says so and exits 2 rather
than report an empty comparison as "no change". Any regression exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from repeat import ROOT, summarize  # noqa: E402


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def compare(parent: list[dict], change: list[dict], spec: dict) -> dict:
    """{workload: {metric: row}}; raises ValueError on zero overlap."""
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    a, b = summarize(parent, spec), summarize(change, spec)
    shared = sorted(set(a) & set(b))
    if not shared:
        raise ValueError(f"no workload in common: {sorted(a)} vs {sorted(b)}")
    out: dict[str, dict] = {}
    for w in shared:
        names = sorted(set(a[w]) & set(b[w]))
        if not names:
            raise ValueError(f"{w}: no metric name in common: "
                             f"{sorted(a[w])} vs {sorted(b[w])}")
        out[w] = {}
        for name in names:
            pa, pb = a[w][name], b[w][name]
            bound = pa["bound"]
            delta = ((pb["median"] - pa["median"]) / pa["median"]
                     if pa["median"] else 0.0)
            worse = -delta if better.get(name) == "higher" else delta
            if bound is None:
                verdict = "no-bound"
            elif worse > bound:
                verdict = "regression"
            elif max(pa["spread"], pb["spread"]) > bound:
                verdict = "unresolved"
            else:
                verdict = "better" if worse < 0 else "within-bound"
            out[w][name] = {"parent": pa["median"], "change": pb["median"],
                            "delta": delta, "bound": bound,
                            "spread": [pa["spread"], pb["spread"]],
                            "verdict": verdict}
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:
        res = compare(load(args.parent), load(args.change), spec)
    except ValueError as e:
        print(f"compare: not comparable: {e}", file=sys.stderr)
        return 2
    regressed = False
    for w, rows in res.items():
        for name, r in rows.items():
            regressed |= r["verdict"] == "regression"
            print(f"{w:16s} {name:16s} {r['parent']:12.3f} -> "
                  f"{r['change']:12.3f} ({r['delta']:+.1%}, bound "
                  f"{r['bound']}) spread {r['spread'][0]:.3f}/"
                  f"{r['spread'][1]:.3f}  {r['verdict']}")
    return 1 if regressed else 0


if __name__ == "__main__":
    sys.exit(main())
