"""Lineage-driven phases: each pipeline phase starts once its lineage is
done, independent branches run concurrently, and a failure or cancel
waits for the in-flight siblings (``plans/pipeline.run_pipeline``), with
the checkpoint store, the cancel token and the progress percent safe
under that concurrency."""

from __future__ import annotations

import os
import threading
import time

import pytest

from fast_duplicate_finder_spark.config import PipelineConfig
from fast_duplicate_finder_spark.corpus import generate_transcripts
from fast_duplicate_finder_spark.plans.pipeline import run_pipeline
from fast_duplicate_finder_spark.plans.progress import (
    CancelToken,
    ProgressReporter,
)
from fast_duplicate_finder_spark.storage import CheckpointStore

CFG = PipelineConfig()


def test_concurrent_writes_keep_their_own_metrics(spark, tmp_path):
    """Two phases written at once from two threads: each caller gets its
    own phase's metric (rows and seconds), and the store's list holds one
    metric per phase."""
    store = CheckpointStore(spark, str(tmp_path / "ck"), "fp")
    barrier = threading.Barrier(2, timeout=60)
    got = {}

    def write(phase, n, delay):
        def compute():
            barrier.wait()  # both phases are inside get_or_compute
            time.sleep(delay)
            return spark.range(n).toDF("v")

        got[phase] = store.get_or_compute(phase, compute, ["input"])[1]

    threads = [
        threading.Thread(target=write, args=("slow", 7, 1.5)),
        threading.Thread(target=write, args=("fast", 3, 0.0)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    assert got["slow"]["phase"] == "slow" and got["slow"]["rows"] == 7
    assert got["fast"]["phase"] == "fast" and got["fast"]["rows"] == 3
    assert got["slow"]["seconds"] >= 1.5 > got["fast"]["seconds"]
    assert sorted(m["phase"] for m in store.metrics) == ["fast", "slow"]


def test_progress_percent_stays_monotone_under_thread_stress():
    """Many phases reporting at once, with the interpreter switching
    threads as often as it can: every subscriber sees percents in
    non-decreasing order, each phase's events keep their own index, and
    the run ends at 100."""
    import sys

    n = 16
    progress = ProgressReporter()
    seen = []
    progress.subscribe(seen.append)
    start = threading.Barrier(n, timeout=60)

    def phase(i):
        name = f"p{i:02d}"
        start.wait()
        progress.phase_start(name, i + 1, n)
        for k in range(1, 50):
            progress.phase_progress(name, i + 1, n, k / 50)
        progress.phase_done(name, i + 1, n, {"rows": i, "seconds": 0.0})

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=phase, args=(i,)) for i in range(n)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    percents = [e["percent"] for e in seen]
    assert percents == sorted(percents)
    assert seen[-1]["percent"] == 100.0
    assert all(e["index"] == int(e["phase"][1:]) + 1 for e in seen)
    assert len(seen) == n * 51


def test_near_dup_run_overlaps_branches_with_monotone_progress(
    spark, tmp_path
):
    """On a near-dup run the exact cascade starts beside p6_features and
    the three pair legs start together; the overall percent never steps
    back, each phase has exactly one start and one done event, and the
    last event reads 100."""
    df = generate_transcripts(spark, n_convs=300, seed=13)
    progress = ProgressReporter(poll_interval=0.05)
    run_pipeline(
        spark, df, CFG, str(tmp_path / "c"), with_groups=False,
        progress=progress,
    )
    events = progress.events
    percents = [e["percent"] for e in events]
    assert percents == sorted(percents)
    assert events[-1]["percent"] == 100.0
    life = [e for e in events if e["status"] != "progress"]
    order = [(e["phase"], e["status"]) for e in life]
    phases = {p for p, _ in order}
    assert len(phases) == 11  # 5 base + 6 near-dup phases
    for p in phases:
        assert [s for q, s in order if q == p] == ["start", "done"], p
    assert {e["index"] for e in life} == set(range(1, 12))  # declared

    def at(phase, status):
        return order.index((phase, status))

    assert at("p1_prefilter", "start") < at("p6_features", "done")
    legs = ["p7a_minhash_pairs", "p7b_simhash_pairs", "p7c_span_pairs"]
    assert max(at(p, "start") for p in legs) < min(
        at(p, "done") for p in legs
    )
    assert at("p7_pairs", "start") > max(
        at(p, "done") for p in legs + ["p3_exact"]
    )


def test_failure_waits_for_siblings_and_raises_first_declared(
    spark, tmp_path, monkeypatch
):
    """p7a and p7c fail (p7c first in time); p7b, in flight beside them,
    still completes and keeps its checkpoint. The raised error is p7a's:
    the first failed phase in declared order. No later phase starts, and
    a rerun resumes every phase that completed."""
    df = generate_transcripts(spark, n_convs=60, seed=5)
    orig = CheckpointStore.get_or_compute
    legs_in_flight = threading.Barrier(3, timeout=120)

    def failing(self, phase, compute, lineage, resume, **kw):
        if phase in ("p7a_minhash_pairs", "p7b_simhash_pairs",
                     "p7c_span_pairs"):
            legs_in_flight.wait()  # all three legs past their boundary
        if phase == "p7c_span_pairs":
            raise RuntimeError("boom p7c")
        if phase == "p7a_minhash_pairs":
            time.sleep(0.5)
            raise RuntimeError("boom p7a")
        return orig(self, phase, compute, lineage, resume, **kw)

    monkeypatch.setattr(CheckpointStore, "get_or_compute", failing)
    ckpt = str(tmp_path / "c")
    with pytest.raises(RuntimeError, match="boom p7a"):
        run_pipeline(spark, df, CFG, ckpt, with_groups=False)

    def done(phase):
        return os.path.exists(os.path.join(ckpt, phase, "_MANIFEST.json"))

    assert done("p6_features") and done("p7b_simhash_pairs")
    assert not any(
        done(p) for p in ("p7a_minhash_pairs", "p7c_span_pairs",
                          "p7_pairs", "p8_clusters", "report_summary")
    )
    monkeypatch.undo()
    rep = run_pipeline(spark, df, CFG, ckpt, with_groups=False)
    resumed = {m["phase"] for m in rep.metrics if m.get("resumed")}
    assert {"p6_features", "p7b_simhash_pairs"} <= resumed
    assert "p7a_minhash_pairs" not in resumed


def test_cancel_token_cancels_every_active_group():
    """Concurrent phases each run under their own job group: cancel()
    must stop all of them, and none that has already left."""

    class Context:
        def __init__(self):
            self.cancelled = []

        def setJobGroup(self, *args, **kwargs):
            pass

        def cancelJobGroup(self, group):
            self.cancelled.append(group)

    class Session:
        sparkContext = Context()

    token = CancelToken(Session())
    for phase in ("p3_exact", "p6_features", "p2_partial"):
        token.enter_phase(phase)
    token.exit_phase("p2_partial")
    token.cancel()
    assert token.cancelled
    assert sorted(Session.sparkContext.cancelled) == [
        "p3_exact", "p6_features"
    ]
