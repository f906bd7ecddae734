"""Round-5 features: crash-safe epoch-state compaction for the exact /
SimHash / LSH streaming legs (the compact_cluster_state recipe applied to
the dedup state tables), the both-sides marker filter in the clusters leg,
and the local-filesystem fail-fast on streaming work dirs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.test_streaming import _TRANSCRIPT_SCHEMA, _one_turn_rows


def _corpus_docs() -> dict[str, str]:
    """32 one-turn docs: 6 exact-dup pairs (identical text), 6 near-dup
    pairs (one-token edit: hamming <= 3 AND jaccard ~0.99, so every leg
    sees its own kind), 8 singletons. Disjoint vocab per family."""
    docs: dict[str, str] = {}
    for k in range(6):
        e = " ".join(f"e{k}t{i}" for i in range(300))
        docs[f"e{k}a"] = docs[f"e{k}b"] = e
        n = " ".join(f"n{k}t{i}" for i in range(300))
        docs[f"n{k}a"] = n
        docs[f"n{k}b"] = n.replace(f"n{k}t150", f"n{k}t150x")
    for k in range(8):
        docs[f"s{k}"] = " ".join(f"s{k}t{i}" for i in range(300))
    return docs


def _write_epoch_files(spark, tmp_path) -> list[str]:
    """The corpus as 20 flat parquet files (20 micro-batch epochs at
    maxFilesPerTrigger=1). Every 'b' member lands in a LATER file than its
    'a' partner; e5b and all n*b arrive in files 10-16 — phase 2 of the
    split tests, i.e. AFTER the mid-stream compaction — so the cross-batch
    state join reads folded state for both exact and near families."""
    docs = _corpus_docs()
    firsts = (
        [f"e{k}a" for k in range(6)]
        + [f"n{k}a" for k in range(6)]
        + [f"s{k}" for k in range(8)]
    )
    seconds = [f"e{k}b" for k in range(6)] + [f"n{k}b" for k in range(6)]
    per_file: list[dict[str, str]] = [{} for _ in range(20)]
    for i, cid in enumerate(firsts):
        per_file[i][cid] = docs[cid]
    for j, cid in enumerate(seconds):
        per_file[j + 5][cid] = docs[cid]
    staging = tmp_path / "staging"
    staging.mkdir()
    files = []
    for i, batch in enumerate(per_file):
        sub = staging / f"b{i:02d}"
        spark.createDataFrame(
            _one_turn_rows(batch), _TRANSCRIPT_SCHEMA
        ).coalesce(1).write.parquet(str(sub))
        part = next(f for f in os.listdir(sub) if f.endswith(".parquet"))
        dst = staging / f"f{i:02d}.parquet"
        os.rename(sub / part, dst)
        files.append(str(dst))
    return files


def _visible_epochs(path: str) -> set[str]:
    return {
        d for d in os.listdir(path) if not d.startswith(("_", "."))
    }


def _all_rows(spark):
    return spark.createDataFrame(
        _one_turn_rows(_corpus_docs()), _TRANSCRIPT_SCHEMA
    )


def _exact_oracle(spark, cfg):
    from fast_duplicate_finder_spark.sources.transcripts import (
        assemble_conversations,
    )

    hashed = assemble_conversations(_all_rows(spark)).select(
        "conv_id", F.xxhash64("doc").alias("fhash")
    )
    clusters: dict[int, set[str]] = {}
    for r in hashed.collect():
        clusters.setdefault(r["fhash"], set()).add(r["conv_id"])
    return {frozenset(m) for m in clusters.values() if len(m) >= 2}


def _exact_got(spark, work):
    from fast_duplicate_finder_spark.streaming.incremental import read_dup_log

    clusters: dict[int, set[str]] = {}
    for r in read_dup_log(spark, work).collect():
        s = clusters.setdefault(r["fhash"], set())
        s.add(r["conv_id"])
        s.add(r["first_conv_id"])
    return {frozenset(m) for m in clusters.values()}


def _simhash_oracle(spark, cfg):
    from fast_duplicate_finder_spark.functions.simhash import (
        simhash_candidate_pairs,
        simhash_udf,
    )
    from fast_duplicate_finder_spark.operators.neardup import shingle_features
    from fast_duplicate_finder_spark.sources.transcripts import (
        assemble_conversations,
    )

    sims = (
        shingle_features(assemble_conversations(_all_rows(spark)), cfg)
        .filter(F.size("shset") > 0)
        .select("conv_id", simhash_udf("shset").alias("simhash"))
    )
    pairs, overflow = simhash_candidate_pairs(
        sims,
        cfg.simhash_hamming,
        max_bucket=cfg.max_band_bucket,
        n_salt=cfg.band_salt_buckets,
    )
    assert overflow.count() == 0
    return {(r["conv_id_a"], r["conv_id_b"]) for r in pairs.collect()}


def _simhash_got(spark, work):
    from fast_duplicate_finder_spark.streaming.incremental import (
        read_near_pair_log,
    )

    log = read_near_pair_log(spark, work).filter("NOT is_overflow")
    return {(r["conv_id_a"], r["conv_id_b"]) for r in log.collect()}


def _lsh_oracle(spark, cfg):
    from fast_duplicate_finder_spark.operators.neardup import (
        minhash_pairs,
        near_dup_features,
    )
    from fast_duplicate_finder_spark.sources.transcripts import (
        assemble_conversations,
    )

    feats = near_dup_features(assemble_conversations(_all_rows(spark)), cfg)
    pairs, overflow = minhash_pairs(feats, cfg)
    assert overflow.count() == 0
    return {
        (r["conv_id_a"], r["conv_id_b"], round(r["jaccard"], 9))
        for r in pairs.collect()
    }


def _lsh_got(spark, work):
    from fast_duplicate_finder_spark.streaming.incremental import (
        read_lsh_pair_log,
    )

    log = read_lsh_pair_log(spark, work).filter("NOT is_overflow")
    return {
        (r["conv_id_a"], r["conv_id_b"], round(r["jaccard"], 9))
        for r in log.collect()
    }


def _leg(name):
    """(runner, compactor, state_data_paths, oracle, got) per leg —
    state_data_paths[0] is the one the crash window is simulated on."""
    from fast_duplicate_finder_spark.streaming import incremental as inc

    return {
        "exact": (
            lambda spark, inp, wd, cfg: inc.run_incremental_dedup(
                spark, inp, wd, max_files_per_trigger=1
            ),
            inc.compact_dedup_state,
            [os.path.join("state", "data")],
            _exact_oracle,
            _exact_got,
        ),
        "simhash": (
            lambda spark, inp, wd, cfg: inc.run_incremental_simhash(
                spark, inp, wd, cfg, max_files_per_trigger=1
            ),
            inc.compact_simhash_state,
            [os.path.join("sim_state", "data")],
            _simhash_oracle,
            _simhash_got,
        ),
        "lsh": (
            lambda spark, inp, wd, cfg: inc.run_incremental_lsh(
                spark, inp, wd, cfg, max_files_per_trigger=1
            ),
            inc.compact_lsh_state,
            [
                os.path.join("lsh_state", "bands", "data"),
                os.path.join("lsh_state", "feats", "data"),
            ],
            _lsh_oracle,
            _lsh_got,
        ),
    }[name]


@pytest.mark.parametrize("leg", ["exact", "simhash", "lsh"])
def test_mid_stream_compaction_preserves_results(spark, tmp_path, leg):
    """The VERDICT-prescribed gauntlet, per leg: stream 20 epochs with a
    mid-stream compaction at epoch 10, simulate a crash between the
    compaction renames (live table renamed aside, completed rewrite
    present), restart (= recover, then resume the SAME checkpointed stream
    over 10 more files), and the final pair/dup set still equals the batch
    operator's. Also pins: compaction folds the state to the single
    reserved epoch dir, changes no reader-visible row, and re-compacting
    an already-compacted table is a no-op. For the LSH leg the crash is
    simulated on the bands table AFTER feats folded — the crash window
    BETWEEN the leg's two state tables."""
    from fast_duplicate_finder_spark.config import PipelineConfig
    from fast_duplicate_finder_spark.streaming.incremental import (
        COMPACTED_EPOCH,
    )

    cfg = PipelineConfig()
    runner, compactor, state_rels, oracle, got = _leg(leg)
    files = _write_epoch_files(spark, tmp_path)
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for f in files[:10]:
        os.rename(f, in_dir / os.path.basename(f))
    work = str(tmp_path / "work")

    q = runner(spark, str(in_dir), work, cfg)
    assert q.awaitTermination(600)
    state_paths = [os.path.join(work, rel) for rel in state_rels]
    assert len(_visible_epochs(state_paths[0])) >= 10  # one dir per epoch

    log_before = got(spark, work)
    compactor(spark, work)
    for p in state_paths:
        assert _visible_epochs(p) == {f"epoch_id={COMPACTED_EPOCH}"}
    assert got(spark, work) == log_before  # reader-visible rows unchanged

    # crash between the renames: live table aside, completed rewrite in
    # place of the .compact (parquet _SUCCESS marks it complete)
    crash_on = state_paths[0]
    os.replace(crash_on, crash_on + ".compact")
    compactor(spark, work)  # recovery finishes the swap
    assert not os.path.exists(crash_on + ".compact")
    assert _visible_epochs(crash_on) == {f"epoch_id={COMPACTED_EPOCH}"}
    compactor(spark, work)  # already compacted: no-op
    assert got(spark, work) == log_before

    # restart: 10 more epochs over the compacted state (e5b + every n*b
    # arrives here, so cross-batch joins read folded state)
    for f in files[10:]:
        os.rename(f, in_dir / os.path.basename(f))
    q2 = runner(spark, str(in_dir), work, cfg)
    assert q2.awaitTermination(600)
    assert got(spark, work) == oracle(spark, cfg)
    # post-compaction epochs append alongside the folded one
    assert f"epoch_id={COMPACTED_EPOCH}" in _visible_epochs(state_paths[0])
    assert len(_visible_epochs(state_paths[0])) > 1


def test_clusters_batch_filters_marker_on_both_sides(spark, tmp_path):
    """A '_'-prefixed id arriving in conv_id_b (foreign pair feed ordering
    the marker second) must be dropped, not clustered — and never become a
    component label ('_x' < 'a' lexicographically, so it WOULD win the
    min-id election if it slipped through)."""
    from fast_duplicate_finder_spark.streaming.incremental import (
        _clusters_batch,
        read_cluster_labels,
    )

    bd, md = str(tmp_path / "base"), str(tmp_path / "merges")
    rows = [
        ("a", "b", False),
        ("b", "_overflow", False),  # marker second, flag not set
        ("_overflow", "c", True),
    ]
    _clusters_batch(
        spark.createDataFrame(
            rows, "conv_id_a string, conv_id_b string, is_overflow boolean"
        ),
        0,
        bd,
        md,
    )
    labels = {
        (r["conv_id"], r["label"])
        for r in read_cluster_labels(spark, str(tmp_path)).collect()
    }
    assert labels == {("a", "a"), ("b", "a")}


def test_streaming_work_dir_must_be_local(spark, tmp_path):
    """URI-shaped work dirs fail fast: the state lifecycle uses
    local renames that would silently no-op on hdfs://s3a://, and
    the checkpoint store would write its manifests under a local
    ``./hdfs:/...`` directory."""
    from fast_duplicate_finder_spark.storage import CheckpointStore
    from fast_duplicate_finder_spark.streaming import incremental as inc

    for fn in (
        lambda: CheckpointStore(spark, "hdfs://nn/x", "fp"),
        lambda: inc.run_incremental_dedup(spark, str(tmp_path), "hdfs://nn/x"),
        lambda: inc.run_incremental_clusters(
            spark, str(tmp_path), "s3a://bucket/x"
        ),
        lambda: inc.compact_dedup_state(spark, "hdfs://nn/x"),
        lambda: inc.compact_simhash_state(spark, "s3a://bucket/x"),
        lambda: inc.compact_lsh_state(spark, "hdfs://nn/x"),
    ):
        with pytest.raises(ValueError, match="local filesystem"):
            fn()
