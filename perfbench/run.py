#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_planted --seed 1 \
        --seconds 30 --trace 0

Run from the repository root. Builds the workload's inputs from ``--seed``,
sets up (session, corpus, warm-up: reported as ``setup_s``), measures for
``--seconds`` (at least one full operation), checks the outputs, and prints
one JSON object as the last line of stdout::

    {"correct": ..., "attempted": n, "failed": n, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json, ``--trace
1`` its per-layer metrics (Spark UI on, stage metrics by job group, spans
written to ``.perfbench_work/traces/``). Layers a workload does not run
read 0. Workloads and why they were chosen: ``perfbench/BASELINE.md``.

``--workload catalog_sf0.1 --data-dir DIR`` and ``--selftest --data-dir
DIR`` run the query catalog and the plan self-test against a catalog data
directory; they are not part of BENCHMARK.json (see BASELINE.md).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import threading
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

DEADLINE_S = 175.0
WORKLOADS = {"batch_planted": "batch", "stream_planted": "stream",
             "catalog_sf0.1": "catalog"}


def _spec() -> dict:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _watchdog() -> None:
    """A run must end within 180 s; a hung Spark job must not hold the
    caller. Kill the processes this run started and exit non-zero without
    a result line."""
    def fire():
        print(f"perfbench: exceeded {DEADLINE_S:.0f} s, aborting",
              file=sys.stderr, flush=True)
        harness.kill_descendants()
        os._exit(3)

    t = threading.Timer(DEADLINE_S - (time.perf_counter() - T_PROCESS), fire)
    t.daemon = True
    t.start()


def _metrics(values: dict[str, float], specs: list[dict]) -> dict:
    missing = [m["name"] for m in specs if m["name"] not in values]
    if missing:
        raise SystemExit(f"perfbench: metrics not produced: {missing}")
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in specs}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-dir", help="catalog tables (catalog workload)")
    ap.add_argument("--selftest", action="store_true",
                    help="check that the measured catalog plans keep their "
                         "computed columns")
    args = ap.parse_args()
    harness.require_package()
    spec = _spec()
    in_spec = args.workload in {w["name"] for w in spec["workloads"]}
    if in_spec:
        _watchdog()
    if not args.selftest and not args.workload:
        ap.error("--workload is required")
    if (args.selftest or args.workload == "catalog_sf0.1") \
            and not args.data_dir:
        ap.error("the catalog needs --data-dir")

    work_root = os.path.join(harness.ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if args.selftest:
        try:
            return importlib.import_module("catalog").selftest(args.data_dir,
                                                               work)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    mod = importlib.import_module(WORKLOADS[args.workload])
    tracer = harness.Tracer() if args.trace else None
    spark = None
    try:
        with harness.RssSampler() as rss:
            spark = harness.start_spark(f"perfbench-{args.workload}", work,
                                        bool(args.trace))
            state = mod.setup(spark, args, work)
            setup_s = time.perf_counter() - T_PROCESS
            res = mod.measure(spark, state, args.seconds, tracer)
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    values = dict(res["e2e"], setup_s=setup_s)
    if tracer is not None:
        values = dict(res["layers"], traced_wall_s=res["wall_s"],
                      tracing_overhead_s=tracer.overhead_s,
                      peak_rss_mb=rss.peak_mb)
        tracer.write(os.path.join(
            work_root, "traces",
            f"{args.workload}-seed{args.seed}-{tracer.run_id}.json"))
    if in_spec:
        if tracer is not None:
            # the per-layer list spans both planted workloads: layers this
            # one does not run read 0
            for other in ("batch", "stream"):
                for n in importlib.import_module(other).layer_metric_names():
                    values.setdefault(n, 0.0)
        metrics = _metrics(values, spec["per_layer" if tracer
                                         else "end_to_end"])
    else:
        values.update(res["e2e"], setup_s=setup_s)
        metrics = {k: {"value": float(v), "unit": harness.unit_of(k)}
                   for k, v in values.items()}
    print(f"# {args.workload} seed={args.seed}: {res['samples']} sample(s), "
          f"setup {setup_s:.1f} s, measured wall {res['wall_s']:.1f} s, "
          f"process {time.perf_counter() - T_PROCESS:.1f} s", flush=True)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
