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

The phases form a DAG, declared by each phase's ``lineage``:

    p1_docs ── p1_prefilter ── p2_partial ── p3_exact ── p4 ── p5_groups
       │                                                  └── p5_files_filtered
       └── p6_features ──┬── p7a ──┐
                         ├── p7b ──┼── p7_pairs ── p8_clusters
                         └── p7c ──┘

p5_files_filtered and p7_pairs also read p3_exact; report_summary reads
p3_exact, p5_groups and p8_clusters.

The reference runs its phases strictly in sequence because each one
prunes the next (run_finder.go:39-76); here the exact cascade (with p4/p5)
and the near-dup branch read only ``p1_docs``, and the three legs read
only ``p6_features``. So a phase starts as soon as every phase of its
lineage is done: one task per phase on one thread pool per call, each
setting its own job group in its own thread (Spark accepts concurrent
jobs from threads). Most phases at this scale are fixed cost — planning,
codegen, small stages that leave cores idle — and the concurrent branches
fill those idle slots. A sibling does run slower beside another branch's
work: in traced ``batch_planted`` runs on 4 cores, ``p2_partial`` took
0.9 s alone and 5–8 s beside ``p6_features``, yet ``p3_exact`` still ended
before the legs did, so the run got shorter. Spark's FIFO scheduler gives
the earlier-submitted job first claim on every core, so at scale the
expectation is that concurrency only fills the slots that job leaves
idle. That expectation is unverified: every run so far had 4 cores, and
the three legs fused into one query once measured ~2.5x slower at high
core counts (see the legs below). A run with more cores or executors must
show that the concurrent legs are not slower than in sequence.

A failure or cancel starts no further phase, waits for the in-flight
siblings (their checkpoints are kept, so a rerun resumes them) and raises
the error of the first failed phase in declared order. A cancel kills the
job groups of every in-flight phase; the kills it causes in siblings of
the phase it landed in are that cancel's collateral, not failures.
"""

from __future__ import annotations

import functools
import threading
from concurrent.futures import Future, ThreadPoolExecutor, wait
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

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
    # phase -> its checkpoint once done (or the empty stand-in of a phase
    # this run leaves out)
    ck: dict[str, DataFrame] = {}
    tasks: dict[str, Future] = {}  # phase -> its task, in declared order
    failures: dict[str, BaseException] = {}
    failed_lock = threading.Lock()
    halt = threading.Event()  # set by the first failure or cancel
    pool = ThreadPoolExecutor(max_workers=n_phases,
                              thread_name_prefix="fdf-phase")

    def run_phase(phase, compute, lineage, overflow=None, **write_kwargs):
        """Declare a phase. Its task starts once every phase of its
        ``lineage`` is done, in its own thread: cancellation check +
        job-group tagging + progress fanout around the checkpointed
        compute (run_finder.go:45-79's between-phase ctx checks;
        status.go:55-81's callback fanout). ``overflow``: (table, compute)
        of a second checkpoint written inside the same boundary, after the
        phase's own table."""
        index = len(tasks) + 1  # declared position
        deps = [tasks[p] for p in lineage if p in tasks]

        def boundary():
            wait(deps)
            if halt.is_set() or cancel.cancelled:
                halt.set()  # a failed input, or a stop: never started
                return
            try:
                cancel.enter_phase(phase)
                try:
                    progress.phase_start(phase, index, n_phases)
                    # within-phase interpolation: enter_phase tagged this
                    # phase's jobs with a job group; the poller turns their
                    # task completion into fractional progress events
                    # (reference phase_2.go:54 parity)
                    with StageProgressPoller(
                        spark, progress, phase, index, n_phases,
                        interval=progress.poll_interval,
                    ):
                        out, metric = store.get_or_compute(
                            phase, compute, lineage, resume, **write_kwargs
                        )
                        if overflow is not None:
                            store.get_or_compute(*overflow, lineage, resume)
                finally:
                    cancel.exit_phase(phase)
                ck[phase] = out
                progress.phase_done(phase, index, n_phases, metric)
            except Exception as e:
                # a MID-phase cancel() kills the job groups, so the
                # in-flight action raises a raw Spark job-cancelled error
                # before any boundary check can run — surface the
                # cancellation the caller asked for, not the collateral.
                # The killed phase wrote no manifest (storage.py's
                # manifest-last ordering), so a later run recomputes it.
                if cancel.cancelled and not isinstance(e, PipelineCancelled):
                    cancelled = PipelineCancelled(
                        f"pipeline cancelled during phase {phase}"
                    )
                    cancelled.__cause__, e = e, cancelled
                with failed_lock:
                    # a cancel landing in siblings after the first failure
                    # is that failure's collateral, not a failure of its own
                    if not failures or not isinstance(e, PipelineCancelled):
                        failures[phase] = e
                halt.set()

        tasks[phase] = pool.submit(inheritable_thread_target(spark)(boundary))

    def run_leg(phase, overflow_phase, leg):
        # Both tables take ONE memoized (pairs, overflow) result:
        # candidate generation runs once, and a resume missing either table
        # recomputes only that one.
        result = functools.cache(lambda: leg(ck["p6_features"], cfg))
        run_phase(
            phase, lambda: result()[0], ["p6_features"],
            overflow=(overflow_phase, lambda: result()[1]),
        )

    run_phase(
        "p1_docs", lambda: assemble_conversations(transcripts), ["input"]
    )
    run_phase(
        "p1_prefilter",
        lambda: prefilter(
            ck["p1_docs"].select("conv_id", "size", "n_turns"), cfg
        ),
        ["p1_docs"],
    )
    run_phase(
        "p2_partial",
        lambda: partial_hash_stage(
            ck["p1_docs"].join(
                ck["p1_prefilter"].select("conv_id"), "conv_id", "left_semi"
            ),
            cfg,
        ).select("conv_id", "doc", "size", "n_turns"),
        ["p1_docs", "p1_prefilter"],
    )
    run_phase(
        "p3_exact",
        lambda: exact_clusters(full_hash_stage(ck["p2_partial"])),
        ["p2_partial"],
    )

    if with_groups:
        run_phase(
            "p4_group_sigs",
            lambda: folder_signatures(
                ck["p1_docs"].select("conv_id").join(
                    ck["p3_exact"].select("conv_id", "fhash")
                    .withColumn("is_dup", F.lit(True)),
                    "conv_id",
                    "left",
                ).fillna({"is_dup": False}),
                cfg,
            ),
            ["p1_docs", "p3_exact"],
        )
        run_phase(
            "p5_groups",
            lambda: folder_clusters(
                suppress_nested(
                    duplicate_folders(ck["p4_group_sigs"]), cfg.group_sep
                )
            ),
            ["p4_group_sigs"],
        )
        run_phase(
            "p5_files_filtered",
            lambda: suppress_files_in_dup_folders(
                ck["p3_exact"], duplicate_folders(ck["p4_group_sigs"]),
                cfg.group_sep,
            ),
            ["p3_exact", "p4_group_sigs"],
        )
    else:
        ck["p5_groups"] = spark.createDataFrame(
            [], "folder string, sig long, cluster_id string, cluster_size long"
        )

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
        run_phase(
            "p6_features",
            lambda: near_dup_features(ck["p1_docs"], cfg),
            ["p1_docs"],
            bucket_by=["conv_id"],
        )

        # Each near-dup leg is its own checkpointed phase: finer-grained
        # resume (kill mid-leg loses only that leg), and the fused
        # union-of-three-legs query measured ~2.5x slower than the legs run
        # as separate jobs at high core counts (three Arrow-UDF stage trees
        # competing inside one DAG). The legs now run as separate jobs side
        # by side; whether FIFO between those jobs avoids that competition
        # at high core counts is unmeasured (module docstring). A leg's
        # overflow table is written in the pairs phase's boundary — the
        # manifest row count IS the counter (capped, counted, never
        # silent).
        run_leg("p7a_minhash_pairs", "p7a_lsh_overflow", minhash_pairs)
        run_leg("p7b_simhash_pairs", "p7b_simhash_overflow", simhash_pairs)
        run_leg("p7c_span_pairs", "p7c_span_overflow", span_pairs)

        run_phase(
            "p7_pairs",
            lambda: (
                ck["p7a_minhash_pairs"].select(
                    "conv_id_a", "conv_id_b", F.lit("minhash").alias("kind")
                )
                .union(
                    ck["p7b_simhash_pairs"].select(
                        "conv_id_a", "conv_id_b", F.lit("simhash")
                    )
                )
                .union(
                    ck["p7c_span_pairs"].select(
                        "conv_id_a", "conv_id_b", F.lit("span")
                    )
                )
                .union(
                    exact_pairs_from_clusters(ck["p3_exact"]).select(
                        "conv_id_a", "conv_id_b", F.lit("exact")
                    )
                )
            ),
            ["p7a_minhash_pairs", "p7b_simhash_pairs", "p7c_span_pairs",
             "p3_exact"],
        )
        run_phase(
            "p8_clusters",
            lambda: connected_components(
                ck["p7_pairs"].select("conv_id_a", "conv_id_b").distinct()
            ),
            ["p7_pairs"],
        )
    else:
        ck["p7_pairs"] = spark.createDataFrame(
            [], "conv_id_a string, conv_id_b string, kind string"
        )
        ck["p8_clusters"] = spark.createDataFrame(
            [], "conv_id string, component string"
        )

    run_phase(
        "report_summary",
        lambda: report_mod.summarize(
            ck["p3_exact"], ck["p5_groups"], ck["p8_clusters"]
        ),
        ["p3_exact", "p5_groups", "p8_clusters"],
    )
    try:
        wait(tasks.values())
    except BaseException:
        halt.set()  # an interrupted caller: start no further phase
        raise
    finally:
        pool.shutdown(wait=True, cancel_futures=True)
    for task in tasks.values():
        task.result()  # raises only a fault outside a phase's boundary
    if failures:
        raise next(failures[p] for p in tasks if p in failures)
    cancel.check()  # a cancel that stopped phases at their boundary
    summary_df = ck["report_summary"]
    summary = {k: v for k, v in summary_df.collect()[0].asDict().items()}
    report = Report(
        summary=summary,
        exact_clusters=ck["p3_exact"],
        top_folders=ck["p5_groups"],
        file_clusters_filtered=ck.get("p5_files_filtered", ck["p3_exact"]),
        near_pairs=ck["p7_pairs"],
        near_clusters=ck["p8_clusters"],
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
