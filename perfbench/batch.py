"""Workload ``batch_planted``: the checkpointed batch pipeline
(``plans.pipeline.run_pipeline``) on a seeded planted-duplicate corpus.

The near-dup cascade does most of its work here: the p6 Arrow kernels and
the p7 pair legs. Layer time is attributed by phase boundary
(ProgressReporter events) and by the job group each phase runs under
(``CancelToken.enter_phase``); nothing wraps an operator.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

import check
from harness import (
    PhaseSpans,
    StageMetrics,
    add_stage_spans,
    dir_usage,
    layer_totals,
    median,
    parquet_rows,
)

N_CONVS = 6000

# Pipeline phases grouped by the module that does their work.
LAYERS = {
    "sources": ["p0_stats", "p1_docs", "p6_all_docs"],
    "exact_cascade": ["p1_prefilter", "p2_partial", "p3_exact"],
    "neardup_features": ["p6_features"],
    "lsh_minhash": ["p7a_minhash_pairs"],
    "simhash": ["p7b_simhash_pairs"],
    "span": ["p7c_span_pairs"],
    "connected_components": ["p7_pairs", "p8_clusters"],
    "report": ["report_summary"],
}
LAYER_FIELDS = ("wall_s", "run_s", "cpu_s", "udf_stage_s", "udf_s",
                "udf_sent_mb",
                "shuffle_mb", "spill_mb", "task_max_over_median")
OVERFLOW = {"lsh_minhash": "p7a_lsh_overflow",
            "simhash": "p7b_simhash_overflow",
            "span": "p7c_span_overflow"}


def layer_metric_names() -> list[str]:
    names = [f"batch.{layer}.{f}" for layer in LAYERS for f in LAYER_FIELDS]
    names += [f"batch.{leg}.overflow_rows" for leg in OVERFLOW]
    names += ["batch.storage.checkpoint_mb", "batch.unspanned_s"]
    return names


def setup(spark, args, work: str) -> dict:
    """Generate, write and load the corpus."""
    from fast_duplicate_finder_spark.corpus import (
        generate_transcripts_distributed,
    )

    path = os.path.join(work, "corpus")
    generate_transcripts_distributed(
        spark, N_CONVS, seed=args.seed, partitions=8
    ).write.parquet(path)
    return {"transcripts": spark.read.parquet(path),
            "n_turns": parquet_rows(path), "work": work}


def measure(spark, state: dict, seconds: float, tracer=None) -> dict:
    """Run the pipeline back to back until ``seconds`` have passed (at
    least once); check each run's clusters against the planted truth
    outside the timed window."""
    from fast_duplicate_finder_spark.config import PipelineConfig
    from fast_duplicate_finder_spark.plans.logging import get_logger
    from fast_duplicate_finder_spark.plans.pipeline import run_pipeline
    from fast_duplicate_finder_spark.plans.progress import ProgressReporter

    sc = spark.sparkContext
    truth = None
    walls, recalls = [], []
    attempted = failed = 0
    last = None
    t_start = time.perf_counter()
    while attempted == 0 or time.perf_counter() - t_start < seconds:
        ckpt = os.path.join(state["work"], "ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        phases = PhaseSpans()
        progress = ProgressReporter(logger=get_logger())
        progress.subscribe(phases)
        attempted += 1
        t0 = time.perf_counter()
        try:
            rep = run_pipeline(spark, state["transcripts"], PipelineConfig(),
                               ckpt, resume=False, with_groups=False,
                               progress=progress)
        except Exception:  # noqa: BLE001 — a failed run is counted
            traceback.print_exc()
            failed += 1
            continue
        wall = time.perf_counter() - t0
        sc.setJobGroup("perfbench-check", "output check")
        if truth is None:
            truth = check.planted_truth(state["transcripts"], N_CONVS)
        rr = check.cluster_recall(truth, check.labels_of(rep.near_clusters))
        if not check.gate(rr):
            print(f"batch_planted: recall gate failed: {rr}")
            failed += 1
        walls.append(wall)
        recalls.append(rr["recall_clusters"])
        last = (rep, phases, t0, wall, ckpt)
        if tracer is not None:
            break  # the traced run measures one pipeline run
    out = {
        "attempted": attempted,
        "failed": failed,
        "samples": len(walls),
        "wall_s": median(walls),
        "e2e": {
            "turns_per_s": state["n_turns"] / median(walls) if walls else 0.0,
            "recall": min(recalls, default=0.0),
        },
        "layers": {},
    }
    if tracer is not None and last is not None:
        out["layers"] = _trace(spark, tracer, *last)
    return out


def _trace(spark, tracer, rep, phases, t0, wall, ckpt) -> dict:
    """Per-layer numbers of one traced pipeline run."""
    t_hook = time.perf_counter()
    pipe = tracer.add("pipeline", t0, t0 + wall, None)
    span_of_phase = {p: tracer.add(p, s, e, pipe)
                     for p, s, e in phases.done}
    metrics = StageMetrics(spark)
    per_group = metrics.collect(set(span_of_phase))
    add_stage_spans(tracer, span_of_phase, per_group)
    rows = {m["phase"]: m.get("rows") for m in rep.metrics}
    layers: dict[str, float] = {}
    spanned = 0.0
    for layer, group_names in LAYERS.items():
        w = sum(phases.seconds(p) for p in group_names)
        spanned += w
        tot = layer_totals(metrics, {g: per_group[g] for g in group_names
                                     if g in per_group})
        tot["wall_s"] = w
        for f in LAYER_FIELDS:
            layers[f"batch.{layer}.{f}"] = tot[f]
    for leg, phase in OVERFLOW.items():
        layers[f"batch.{leg}.overflow_rows"] = float(rows.get(phase) or 0)
    layers["batch.storage.checkpoint_mb"] = dir_usage(ckpt)[1] / 1e6
    layers["batch.unspanned_s"] = wall - spanned
    tracer.overhead_s += time.perf_counter() - t_hook
    return layers
