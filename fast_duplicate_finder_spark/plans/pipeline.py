"""The end-to-end pipeline — all phases, checkpointed, resumable.

Query lifecycle (SURVEY.md §3, mirroring the three reference entry points
converging on run_finder.go:23-85):

    run_pipeline(spark, transcripts, cfg, checkpoint_dir)
      p1_docs           every conversation, assembled once
      p1_prefilter      size/turn-count groups >= 2       (phase_1.go)
      p2_partial        (size, partial-hash) groups >= 2  (phase_2.go)
      p3_exact          full-hash exact clusters          (phase_3.go)
      p4_group_sigs     Merkle folder signatures          (phase_4.go)
      p5_groups         nested suppression + file filter  (phase_5.go)
      p6_features       shingle sets + leg signatures     (north_star)
      p7a/p7b/p7c       minhash/simhash/span pair legs,   (north_star)
                        each with its overflow table
      p7_pairs          legs + exact star edges           (north_star)
      p8_clusters       connected components              (north_star)
      report            summary + metrics

Each phase is one job writing one checkpoint table; a rerun with the same
config fingerprint skips completed phases (kill-after-phase-k resumability,
BASELINE.md). The returned Report object holds DataFrames (lazy) + the
driver-side summary.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fast_duplicate_finder_spark.config import PipelineConfig
from fast_duplicate_finder_spark.operators.exact_cascade import (
    exact_clusters,
    full_hash_stage,
    partial_hash_stage,
    prefilter,
)
from fast_duplicate_finder_spark.operators.group_dedup import (
    duplicate_folders,
    folder_clusters,
    folder_signatures,
    suppress_files_in_dup_folders,
    suppress_nested,
)
from fast_duplicate_finder_spark.operators.neardup import (
    exact_pairs_from_clusters,
    minhash_pairs,
    near_dup_features,
    simhash_pairs,
    span_pairs,
)
from fast_duplicate_finder_spark.operators.connected_components import (
    connected_components,
)
from fast_duplicate_finder_spark.plans import report as report_mod
from fast_duplicate_finder_spark.sources.transcripts import assemble_conversations
from fast_duplicate_finder_spark.storage import CheckpointStore


@dataclass
class Report:
    summary: dict
    exact_clusters: DataFrame
    top_folders: DataFrame
    file_clusters_filtered: DataFrame
    near_pairs: DataFrame
    near_clusters: DataFrame
    metrics: list[dict]


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: PipelineConfig,
    checkpoint_dir: str,
    resume: bool = True,
    with_near_dup: bool = True,
    with_groups: bool = True,
    input_snapshot: str | None = None,
    progress=None,
    cancel=None,
) -> Report:
    """``input_snapshot``: storage.parquet_snapshot_id of the input (or an
    Iceberg snapshot id) — a resume refuses checkpoints of a different
    input. ``progress``: plans.progress.ProgressReporter (or None).
    ``cancel``: plans.progress.CancelToken (or None) — checked at every
    phase boundary, like the reference's ctx checks between phases
    (run_finder.go:45-79)."""
    from fast_duplicate_finder_spark.plans.logging import get_logger
    from fast_duplicate_finder_spark.plans.progress import (
        CancelToken,
        PipelineCancelled,
        ProgressReporter,
        StageProgressPoller,
    )

    progress = progress or ProgressReporter(logger=get_logger())
    cancel = cancel or CancelToken(spark)
    store = CheckpointStore(
        spark, checkpoint_dir, cfg.fingerprint(), snapshot_id=input_snapshot
    )
    n_phases = 5 + (3 if with_groups else 0) + (6 if with_near_dup else 0)
    counter = {"i": 0}

    def run_phase(phase, compute, lineage, overflow=None, **write_kwargs):
        """Phase boundary: cancellation check + job-group tagging + progress
        fanout around the checkpointed compute (run_finder.go:45-79's
        between-phase ctx checks; status.go:55-81's callback fanout).
        ``overflow``: (table, compute) of a second checkpoint written
        inside the same boundary, after the phase's own table."""
        cancel.check()
        counter["i"] += 1
        cancel.enter_phase(phase)
        progress.phase_start(phase, counter["i"], n_phases)
        # within-phase interpolation: enter_phase tagged this phase's jobs
        # with a job group; the poller turns their task completion into
        # fractional progress events (reference phase_2.go:54 parity)
        try:
            with StageProgressPoller(
                spark, progress, phase, counter["i"], n_phases,
                interval=progress.poll_interval,
            ):
                out = store.get_or_compute(
                    phase, compute, lineage, resume, **write_kwargs
                )
                metric = store.metrics[-1]
                if overflow is not None:
                    store.get_or_compute(*overflow, lineage, resume)
        except PipelineCancelled:
            raise
        except Exception as e:
            # a MID-phase cancel() kills the job group, so the in-flight
            # action raises a raw Spark job-cancelled error before the next
            # boundary check can run — surface the cancellation the caller
            # asked for, not the collateral. The killed phase wrote no
            # manifest (storage.py's manifest-last ordering), so a later
            # run recomputes it cleanly.
            if cancel.cancelled:
                raise PipelineCancelled(
                    f"pipeline cancelled during phase {phase}"
                ) from e
            raise
        progress.phase_done(phase, counter["i"], n_phases, metric)
        return out

    docs = run_phase(
        "p1_docs", lambda: assemble_conversations(transcripts), ["input"]
    )
    p1 = run_phase(
        "p1_prefilter",
        lambda: prefilter(docs.select("conv_id", "size", "n_turns"), cfg),
        ["p1_docs"],
    )
    p2 = run_phase(
        "p2_partial",
        lambda: partial_hash_stage(
            docs.join(p1.select("conv_id"), "conv_id", "left_semi"), cfg
        ).select("conv_id", "doc", "size", "n_turns"),
        ["p1_docs", "p1_prefilter"],
    )
    p3 = run_phase(
        "p3_exact",
        lambda: exact_clusters(full_hash_stage(p2)),
        ["p2_partial"],
    )

    if with_groups:
        conv_hashes = docs.select("conv_id").join(
            p3.select("conv_id", "fhash").withColumn("is_dup", F.lit(True)),
            "conv_id",
            "left",
        ).fillna({"is_dup": False})
        sigs = run_phase(
            "p4_group_sigs",
            lambda: folder_signatures(conv_hashes, cfg),
            ["p1_docs", "p3_exact"],
        )
        dups = duplicate_folders(sigs)
        top = run_phase(
            "p5_groups",
            lambda: folder_clusters(suppress_nested(dups, cfg.group_sep)),
            ["p4_group_sigs"],
        )
        files_kept = run_phase(
            "p5_files_filtered",
            lambda: suppress_files_in_dup_folders(
                p3, dups, cfg.group_sep
            ),
            ["p3_exact", "p4_group_sigs"],
        )
    else:
        top = spark.createDataFrame(
            [], "folder string, sig long, cluster_id string, cluster_size long"
        )
        files_kept = p3

    if with_near_dup:
        # Near-dup legs consider ALL assembled docs, not only exact-cascade
        # survivors: near-dups differ in size.
        # ONE conv_id-partitioned pass computes every leg's features
        # (shset + minhash/simhash signatures + supershingle sets); the
        # positional gram arrays never leave it, so the p7 legs below
        # shuffle bytes-per-doc, not bytes-per-token, and re-run no Arrow
        # kernels (round 2 re-shuffled grams per leg — its largest stage)
        # bucketed by conv_id: near_dup_features' output is already
        # hash-partitioned on conv_id (shuffle.partitions tasks), so the
        # bucketed write adds no shuffle and ~one file per bucket — and
        # every later conv_id-keyed consumer of the WIDEST checkpoint
        # (the verify joins of each p7 leg once candidates outgrow
        # broadcast, and any resumed session) reads it exchange-free
        features = run_phase(
            "p6_features",
            lambda: near_dup_features(docs, cfg),
            ["p1_docs"],
            bucket_by=["conv_id"],
        )

        # Each near-dup leg is its own checkpointed phase: finer-grained
        # resume (kill mid-leg loses only that leg), and the fused
        # union-of-three-legs query measured ~2.5x slower than the legs run
        # as separate jobs at high core counts (three Arrow-UDF stage trees
        # competing inside one DAG). A leg's overflow table is written in
        # the pairs phase's boundary — the manifest row count IS the
        # counter (capped, counted, never silent). Both tables take ONE
        # memoized (pairs, overflow) result: candidate generation runs
        # once, and a resume missing either table recomputes only that one.
        def run_leg(phase, overflow_phase, leg):
            result = functools.cache(lambda: leg(features, cfg))
            return run_phase(
                phase, lambda: result()[0], ["p6_features"],
                overflow=(overflow_phase, lambda: result()[1]),
            )

        mh_pairs_df = run_leg(
            "p7a_minhash_pairs", "p7a_lsh_overflow", minhash_pairs
        )
        sh_pairs_df = run_leg(
            "p7b_simhash_pairs", "p7b_simhash_overflow", simhash_pairs
        )
        sp_pairs_df = run_leg("p7c_span_pairs", "p7c_span_overflow", span_pairs)

        pairs = run_phase(
            "p7_pairs",
            lambda: (
                mh_pairs_df.select(
                    "conv_id_a", "conv_id_b", F.lit("minhash").alias("kind")
                )
                .union(
                    sh_pairs_df.select("conv_id_a", "conv_id_b", F.lit("simhash"))
                )
                .union(
                    sp_pairs_df.select("conv_id_a", "conv_id_b", F.lit("span"))
                )
                .union(
                    exact_pairs_from_clusters(p3).select(
                        "conv_id_a", "conv_id_b", F.lit("exact")
                    )
                )
            ),
            ["p7a_minhash_pairs", "p7b_simhash_pairs", "p7c_span_pairs",
             "p3_exact"],
        )
        clusters = run_phase(
            "p8_clusters",
            lambda: connected_components(
                pairs.select("conv_id_a", "conv_id_b").distinct()
            ),
            ["p7_pairs"],
        )
    else:
        pairs = spark.createDataFrame(
            [], "conv_id_a string, conv_id_b string, kind string"
        )
        clusters = spark.createDataFrame([], "conv_id string, component string")

    summary_df = run_phase(
        "report_summary",
        lambda: report_mod.summarize(p3, top, clusters),
        ["p3_exact", "p5_groups", "p8_clusters"],
    )
    summary = {k: v for k, v in summary_df.collect()[0].asDict().items()}
    report = Report(
        summary=summary,
        exact_clusters=p3,
        top_folders=top,
        file_clusters_filtered=files_kept,
        near_pairs=pairs,
        near_clusters=clusters,
        metrics=store.metrics,
    )
    global _LAST_REPORT
    _LAST_REPORT = report
    return report


_LAST_REPORT: Report | None = None


def get_last_report() -> Report | None:
    """Most recent completed Report in this process — the polling-client
    cache (reference library/library.go:68,89 ``lastReport`` /
    ``GetLastReportC``)."""
    return _LAST_REPORT
