"""Round-2 additions: cancellation + progress (C5/C6), input snapshot ids
(P4), zero-size exclusion (P1), folder-set sizes, capped simhash buckets,
idempotent streaming dup log, exact-integer k-means determinism."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fast_duplicate_finder_spark.config import PipelineConfig
from fast_duplicate_finder_spark.corpus import generate_transcripts
from fast_duplicate_finder_spark.operators.exact_cascade import prefilter
from fast_duplicate_finder_spark.operators.group_dedup import (
    folder_recursive_sizes,
)
from fast_duplicate_finder_spark.plans.pipeline import run_pipeline
from fast_duplicate_finder_spark.plans.progress import (
    CancelToken,
    PipelineCancelled,
    ProgressReporter,
)
from fast_duplicate_finder_spark.plans.report import folder_sets_report
from fast_duplicate_finder_spark.storage import parquet_snapshot_id

CFG = PipelineConfig()


def test_progress_events_and_percentages(spark, tmp_path):
    df = generate_transcripts(spark, n_convs=60, seed=3)
    progress = ProgressReporter()
    seen = []
    progress.subscribe(seen.append)
    run_pipeline(
        spark, df, CFG, str(tmp_path / "c"), with_groups=False,
        with_near_dup=False, progress=progress,
    )
    assert seen == progress.events
    starts = [e for e in seen if e["status"] == "start"]
    dones = [e for e in seen if e["status"] in ("done", "resumed")]
    assert len(starts) == len(dones) == 5  # base phases when both flags off
    percents = [e["percent"] for e in seen]
    assert percents == sorted(percents)
    assert dones[-1]["percent"] == 100.0
    assert all(d["rows"] is not None for d in dones)


def test_cancel_mid_pipeline_then_resume(spark, tmp_path):
    ckpt = str(tmp_path / "c")
    df = generate_transcripts(spark, n_convs=60, seed=3)
    token = CancelToken(spark)
    progress = ProgressReporter()
    # cancel AFTER p2 completes (on its done/resumed event): the original
    # '!= "start"' predicate predates within-phase status='progress' events
    # and would now fire mid-p2 under load, interrupting the phase before
    # its checkpoint lands — a different scenario than this test pins
    progress.subscribe(
        lambda ev: token.cancel()
        if ev["phase"] == "p2_partial" and ev["status"] in ("done", "resumed")
        else None
    )
    with pytest.raises(PipelineCancelled):
        run_pipeline(
            spark, df, CFG, ckpt, with_groups=False, with_near_dup=False,
            progress=progress, cancel=token,
        )
    # completed phases checkpointed; a fresh run resumes them
    assert os.path.exists(os.path.join(ckpt, "p2_partial", "_MANIFEST.json"))
    assert not os.path.exists(os.path.join(ckpt, "p3_exact", "_MANIFEST.json"))
    rep = run_pipeline(
        spark, df, CFG, ckpt, with_groups=False, with_near_dup=False
    )
    resumed = {m["phase"] for m in rep.metrics if m.get("resumed")}
    assert "p2_partial" in resumed and "p1_docs" in resumed


def test_cancelled_token_raises_before_any_phase(spark, tmp_path):
    df = generate_transcripts(spark, n_convs=20, seed=3)
    token = CancelToken(spark)
    token.cancel()
    with pytest.raises(PipelineCancelled):
        run_pipeline(
            spark, df, CFG, str(tmp_path / "c"), cancel=token,
            with_groups=False, with_near_dup=False,
        )


def test_input_snapshot_gates_resume(spark, tmp_path):
    ckpt = str(tmp_path / "c")
    df = generate_transcripts(spark, n_convs=60, seed=3)
    run_pipeline(
        spark, df, CFG, ckpt, with_groups=False, with_near_dup=False,
        input_snapshot="snapA",
    )
    # same snapshot -> everything resumes
    rep2 = run_pipeline(
        spark, df, CFG, ckpt, with_groups=False, with_near_dup=False,
        input_snapshot="snapA",
    )
    assert all(m.get("resumed") for m in rep2.metrics), rep2.metrics
    # changed input -> nothing resumes (stale checkpoints refused)
    rep3 = run_pipeline(
        spark, df, CFG, ckpt, with_groups=False, with_near_dup=False,
        input_snapshot="snapB",
    )
    assert not any(m.get("resumed") for m in rep3.metrics)


def test_parquet_snapshot_id_tracks_input_changes(spark, tmp_path):
    p = str(tmp_path / "in")
    spark.range(10).write.mode("overwrite").parquet(p)
    s1 = parquet_snapshot_id(p)
    assert s1 == parquet_snapshot_id(p)  # stable
    spark.range(20).write.mode("overwrite").parquet(p)
    assert parquet_snapshot_id(p) != s1


def test_prefilter_drops_zero_size_convs(spark):
    stats = spark.createDataFrame(
        [("e1", 0, 1), ("e2", 0, 1), ("a", 5, 1), ("b", 5, 1)],
        "conv_id string, size long, n_turns long",
    )
    kept = {r["conv_id"] for r in prefilter(stats, CFG).collect()}
    assert kept == {"a", "b"}  # phase_1.go:49 analogue


def test_folder_recursive_sizes_and_report(spark):
    conv_sizes = spark.createDataFrame(
        [("g1/a", 10), ("g1/sub/b", 20), ("g2/a", 10), ("g2/sub/b", 20),
         ("other/x", 5)],
        "conv_id string, size long",
    )
    folders = spark.createDataFrame(
        [("g1",), ("g2",), ("g1/sub",), ("g2/sub",)], "folder string"
    )
    sizes = {
        r["folder"]: r["size_chars"]
        for r in folder_recursive_sizes(conv_sizes, folders).collect()
    }
    assert sizes == {"g1": 30, "g2": 30, "g1/sub": 20, "g2/sub": 20}

    top = spark.createDataFrame(
        [("g1", 77, "g1", 2), ("g2", 77, "g1", 2)],
        "folder string, sig long, cluster_id string, cluster_size long",
    )
    rep = folder_sets_report(
        top, folder_recursive_sizes(conv_sizes, top)
    ).collect()
    assert len(rep) == 1
    assert rep[0]["size_chars"] == 30
    assert rep[0]["wasted_chars"] == 30  # size * (n_members - 1)
    assert rep[0]["members"] == ["g1", "g2"]


def test_simhash_bucket_cap_counts_overflow(spark):
    from fast_duplicate_finder_spark.functions.simhash import (
        simhash_candidate_pairs,
    )

    sims = spark.createDataFrame(
        [(f"c{i}", 0x1234_5678_9ABC_DEF0) for i in range(5)],
        "conv_id string, simhash long",
    )
    pairs, overflow = simhash_candidate_pairs(sims, 3, max_bucket=3)
    assert pairs.count() == 0  # every chunk bucket holds 5 > 3 -> capped
    ovf = overflow.collect()
    assert len(ovf) == 4 and all(r["bucket_n"] == 5 for r in ovf)
    pairs2, overflow2 = simhash_candidate_pairs(sims, 3, max_bucket=10)
    assert pairs2.count() == 10  # C(5,2), hamming 0
    assert overflow2.count() == 0


def test_streaming_replayed_epoch_does_not_inflate_dup_log(spark, tmp_path):
    from fast_duplicate_finder_spark.streaming.incremental import (
        _dedup_batch,
        read_dup_log,
    )

    t = generate_transcripts(spark, n_convs=80, seed=11)
    work = tmp_path / "w"
    state_dir, dups_dir = str(work / "state"), str(work / "dups")
    os.makedirs(state_dir)
    os.makedirs(dups_dir)
    _dedup_batch(t, 0, state_dir, dups_dir)
    n1 = read_dup_log(spark, str(work)).count()
    state1 = spark.read.parquet(os.path.join(state_dir, "data")).count()
    assert n1 > 0, "corpus must contain planted duplicates"
    # at-least-once replay of the SAME epoch: dup log and state unchanged
    _dedup_batch(t, 0, state_dir, dups_dir)
    assert read_dup_log(spark, str(work)).count() == n1
    assert spark.read.parquet(os.path.join(state_dir, "data")).count() == state1
    # a genuinely new epoch with the same content: all convs are now dups,
    # state does not grow
    _dedup_batch(
        t.withColumn("conv_id", F.concat(F.lit("re_"), "conv_id")),
        1, state_dir, dups_dir,
    )
    n_convs = t.select("conv_id").distinct().count()
    assert read_dup_log(spark, str(work)).count() == n1 + n_convs
    assert spark.read.parquet(os.path.join(state_dir, "data")).count() == state1


def test_kmeans_fit_exact_partition_invariant(spark):
    from fast_duplicate_finder_spark.operators.kmeans import kmeans_fit

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    c1 = {
        r["centroid_id"]: r["m"]
        for r in kmeans_fit(e, k=8, n_iter=3).collect()
    }
    c2 = {
        r["centroid_id"]: r["m"]
        for r in kmeans_fit(e.repartition(7), k=8, n_iter=3).collect()
    }
    assert c1 == c2  # bit-identical under any partitioning


def test_kmeans_fit_empty_input_raises(spark):
    from fast_duplicate_finder_spark.operators.kmeans import kmeans_fit

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError):
        kmeans_fit(empty)


def test_format_helpers():
    from fast_duplicate_finder_spark.functions.format import (
        format_elapsed,
        humanize_bytes,
    )

    assert humanize_bytes(0) == "0 B"
    assert humanize_bytes(512) == "512 B"
    assert humanize_bytes(1536) == "1.5 KiB"
    assert humanize_bytes(3 * 1024**2) == "3.0 MiB"
    assert humanize_bytes(5 * 1024**4) == "5.0 TiB"
    assert humanize_bytes(-1536) == "-1.5 KiB"
    assert format_elapsed(0.35) == "350ms"
    assert format_elapsed(4.25) == "4.2s"
    assert format_elapsed(63.5) == "1m3.5s"
    assert format_elapsed(3723.0) == "1h2m3.0s"
