"""Structured Streaming legs: incremental exact dedup equals the batch
cascade's duplicate set; session windows match the lag-based batch
sessionizer; the stream itself runs end to end with availableNow."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from fast_duplicate_finder_spark.corpus import generate_transcripts
from fast_duplicate_finder_spark.streaming.incremental import (
    read_dup_log,
    run_incremental_dedup,
    sessionize,
    stream_transcripts,
)


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    """Planted corpus written as two parquet files (two micro-batch's worth
    of arrivals, duplicates crossing the file boundary)."""
    base = tmp_path_factory.mktemp("stream_corpus")
    t = generate_transcripts(spark, n_convs=120, seed=7)
    convs = [r["conv_id"] for r in t.select("conv_id").distinct().collect()]
    half = list(convs[: len(convs) // 2])
    t.filter(F.col("conv_id").isin(half)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "f1"))
    t.filter(~F.col("conv_id").isin(half)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "f2"))
    # one flat dir of files for the file-stream source
    flat = base / "in"
    flat.mkdir()
    i = 0
    for sub in ("f1", "f2"):
        for f in os.listdir(base / sub):
            if f.endswith(".parquet"):
                os.rename(base / sub / f, flat / f"part{i}.parquet")
                i += 1
    return str(flat)


def test_stream_transcripts_rejects_parquet_one_level_down(spark, tmp_path):
    """A plain directory whose parquet sits one level down (what
    ``df.write.parquet`` makes) would stream zero rows: fail fast, naming
    the glob. The glob itself, key=value partition directories and empty
    directories still open as streams."""
    nested = tmp_path / "nested"
    spark.range(3).write.parquet(str(nested / "w1"))
    glob = os.path.join(str(nested), "*")
    with pytest.raises(ValueError, match=re.escape(repr(glob))):
        stream_transcripts(spark, str(nested))
    parted = tmp_path / "parted"
    spark.range(3).withColumn("k", F.lit(1)).write.partitionBy("k").parquet(
        str(parted)
    )
    empty = tmp_path / "empty"
    empty.mkdir()
    for path in (glob, str(parted), str(empty)):
        assert stream_transcripts(spark, path).isStreaming


def _batch_expected_dups(spark, corpus_dir):
    t = spark.read.parquet(corpus_dir)
    from fast_duplicate_finder_spark.sources.transcripts import (
        assemble_conversations,
    )

    docs = assemble_conversations(t)
    hashed = docs.select("conv_id", F.xxhash64("doc").alias("fhash"))
    clusters: dict[int, set[str]] = {}
    for r in hashed.collect():
        clusters.setdefault(r["fhash"], set()).add(r["conv_id"])
    return {
        frozenset(members) for members in clusters.values() if len(members) >= 2
    }


def test_incremental_dedup_matches_batch(spark, corpus_dir, tmp_path):
    """Same duplicate CLUSTERS as the batch cascade. The canonical member
    may differ (stream = first arrival, batch = min conv_id) — both are
    valid representatives; cluster membership must agree exactly."""
    work = str(tmp_path / "work")
    q = run_incremental_dedup(
        spark, corpus_dir, work, available_now=True, max_files_per_trigger=1
    )
    q.awaitTermination(300)
    stream_clusters: dict[int, set[str]] = {}
    for r in read_dup_log(spark, work).collect():
        s = stream_clusters.setdefault(r["fhash"], set())
        s.add(r["conv_id"])
        s.add(r["first_conv_id"])
    got = {frozenset(m) for m in stream_clusters.values()}
    expected = _batch_expected_dups(spark, corpus_dir)
    assert expected, "corpus must contain planted duplicates"
    assert got == expected


def test_incremental_dedup_resume_is_idempotent(spark, corpus_dir, tmp_path):
    """Second availableNow run over the same directory: no new input files,
    no duplicate log growth (checkpoint makes resume a no-op)."""
    work = str(tmp_path / "work2")
    q = run_incremental_dedup(spark, corpus_dir, work, available_now=True)
    q.awaitTermination(300)
    n1 = read_dup_log(spark, work).count()
    q2 = run_incremental_dedup(spark, corpus_dir, work, available_now=True)
    q2.awaitTermination(300)
    n2 = read_dup_log(spark, work).count()
    assert n1 == n2


def test_sessionize_batch_matches_lag_based(spark):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sess = sessionize(events, gap="30 minutes")
    got = (
        sess.groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"), F.sum("n_events").alias("n_events"))
    )
    from fast_duplicate_finder_spark.queries import q_events_sessionize

    expected = q_events_sessionize(spark, "/root/testdata/sf0.001")
    g = {(r["user_id"]): (r["n_sessions"], r["n_events"]) for r in got.collect()}
    e = {(r["user_id"]): (r["n_sessions"], r["n_events"]) for r in expected.collect()}
    assert g == e


def test_sessionize_streaming_runs(spark, tmp_path):
    """Streaming smoke: session_window agg + watermark over a file stream
    completes under availableNow and emits only watermark-closed sessions
    (a subset of the batch sessions)."""
    src = str(tmp_path / "events_in")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").coalesce(
        1
    ).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        ).parquet(src)
    )
    sess = sessionize(stream, gap="30 minutes", watermark="0 seconds")
    q = (
        sess.writeStream.format("memory")
        .queryName("sess_smoke")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    emitted = spark.sql("SELECT count(*) n FROM sess_smoke").collect()[0]["n"]
    batch_n = sessionize(
        spark.read.parquet(src), gap="30 minutes"
    ).count()
    assert 0 <= emitted <= batch_n


def _epoch_dirs_hold_only_parts(state_path):
    """Every ``epoch_id=K`` directory of a state table holds part files and
    no sub-directory (the table is partitioned by epoch_id alone)."""
    epochs = [d for d in os.listdir(state_path) if d.startswith("epoch_id=")]
    assert epochs
    for d in epochs:
        names = os.listdir(os.path.join(state_path, d))
        assert any(n.startswith("part-") for n in names)
        assert not any(
            os.path.isdir(os.path.join(state_path, d, n)) for n in names
        )


def test_state_partitioned_by_prefix_and_replay_idempotent(spark, tmp_path):
    """Round-3: state is partitioned by epoch_id alone (docstring and code
    agree); an at-least-once replay of the SAME epoch — including the
    crash-between-writes window — leaves state and dup log byte-identical,
    with no epoch-probe job."""
    from fast_duplicate_finder_spark.streaming.incremental import (
        _dedup_batch,
    )

    t = generate_transcripts(spark, n_convs=80, seed=11)
    convs = sorted(r["conv_id"] for r in t.select("conv_id").distinct().collect())
    half = set(convs[: len(convs) // 2])
    b1 = t.filter(F.col("conv_id").isin(half))
    b2 = t.filter(~F.col("conv_id").isin(half))
    sd, dd = str(tmp_path / "state"), str(tmp_path / "dups")
    _dedup_batch(b1, 0, sd, dd)
    _dedup_batch(b2, 1, sd, dd)

    state_path = os.path.join(sd, "data")
    _epoch_dirs_hold_only_parts(state_path)

    state1 = sorted(
        tuple(r) for r in spark.read.parquet(state_path).collect()
    )
    dups1 = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(dd, "data")).collect()
    )
    assert state1 and dups1  # planted dups across the batch boundary

    _dedup_batch(b2, 1, sd, dd)  # replay epoch 1 (at-least-once restart)
    state2 = sorted(
        tuple(r) for r in spark.read.parquet(state_path).collect()
    )
    dups2 = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(dd, "data")).collect()
    )
    assert state1 == state2
    assert dups1 == dups2


def _one_turn_rows(docs: dict[str, str]):
    import datetime

    ts = datetime.datetime(2026, 1, 1)
    return [(cid, 0, "user", text, "", ts) for cid, text in docs.items()]


_TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp"
)


def test_incremental_simhash_matches_batch(spark, tmp_path):
    """Streamed SimHash pairs over two micro-batches equal the batch
    operator's pair set on the full corpus — including a fuzz pair whose
    members arrive in DIFFERENT micro-batches (the state join) and one
    within a single batch (the capped+salted intra-batch generator)."""
    from fast_duplicate_finder_spark.config import PipelineConfig
    from fast_duplicate_finder_spark.functions.simhash import (
        simhash_candidate_pairs,
        simhash_udf,
    )
    from fast_duplicate_finder_spark.operators.neardup import (
        shingle_features,
    )
    from fast_duplicate_finder_spark.sources.transcripts import (
        assemble_conversations,
    )
    from fast_duplicate_finder_spark.streaming.incremental import (
        read_near_pair_log,
        run_incremental_simhash,
    )

    cfg = PipelineConfig()
    base = " ".join(f"tok{i}" for i in range(300))
    u_base = " ".join(f"u{i}" for i in range(300))  # one-token fuzz of the
    # "u" vocab measures hamming 3 (== cfg.simhash_hamming); the "s" vocab
    # measures 4 and is legitimately NOT a pair — vote margins are
    # vocabulary-dependent
    batch1 = {"p1": base, "s1": u_base, "s2": u_base.replace("u150", "u150x")}
    batch2 = {
        "p2": base.replace("tok150", "tok150x"),
        "q1": " ".join(f"other{i}" for i in range(300)),
    }
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, docs in enumerate((batch1, batch2)):
        spark.createDataFrame(
            _one_turn_rows(docs), _TRANSCRIPT_SCHEMA
        ).coalesce(1).write.parquet(str(tmp_path / f"b{i}"))
        import os as _os

        for f in _os.listdir(tmp_path / f"b{i}"):
            if f.endswith(".parquet"):
                _os.rename(tmp_path / f"b{i}" / f, in_dir / f"part{i}.parquet")

    q = run_incremental_simhash(
        spark, str(in_dir), str(tmp_path / "work"), cfg,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    got = {
        (r["conv_id_a"], r["conv_id_b"])
        for r in read_near_pair_log(spark, str(tmp_path / "work")).collect()
    }

    all_rows = spark.createDataFrame(
        _one_turn_rows({**batch1, **batch2}), _TRANSCRIPT_SCHEMA
    )
    sims = (
        shingle_features(assemble_conversations(all_rows), cfg)
        .filter(F.size("shset") > 0)
        .select("conv_id", simhash_udf("shset").alias("simhash"))
    )
    batch_pairs, overflow = simhash_candidate_pairs(
        sims, cfg.simhash_hamming, max_bucket=cfg.max_band_bucket,
        n_salt=cfg.band_salt_buckets,
    )
    expected = {
        (r["conv_id_a"], r["conv_id_b"]) for r in batch_pairs.collect()
    }
    assert overflow.count() == 0
    assert ("p1", "p2") in got      # cross-batch (state join)
    assert ("s1", "s2") in got      # intra-batch (salted generator)
    assert not any("q1" in p for p in got)
    assert got == expected


def test_incremental_simhash_replay_idempotent_and_partitioned(
    spark, tmp_path
):
    """An at-least-once replay of the SAME epoch leaves the pair log and
    the exploded pigeonhole state byte-identical, and the state lands in
    epoch_id partitions."""
    import os as _os

    from fast_duplicate_finder_spark.config import PipelineConfig
    from fast_duplicate_finder_spark.streaming.incremental import (
        _simhash_batch_fn,
    )

    cfg = PipelineConfig()
    base = " ".join(f"w{i}" for i in range(200))
    b1 = spark.createDataFrame(
        _one_turn_rows({"a1": base}), _TRANSCRIPT_SCHEMA
    )
    b2 = spark.createDataFrame(
        _one_turn_rows({"a2": base.replace("w100", "w100x")}),
        _TRANSCRIPT_SCHEMA,
    )
    sd, pd_ = str(tmp_path / "sim_state"), str(tmp_path / "near_pairs")
    _simhash_batch_fn(b1, 0, sd, pd_, cfg)
    _simhash_batch_fn(b2, 1, sd, pd_, cfg)

    state_path = _os.path.join(sd, "data")
    _epoch_dirs_hold_only_parts(state_path)

    state1 = sorted(tuple(r) for r in spark.read.parquet(state_path).collect())
    pairs1 = sorted(
        tuple(r)
        for r in spark.read.parquet(_os.path.join(pd_, "data")).collect()
    )
    assert pairs1  # the cross-epoch fuzz pair

    _simhash_batch_fn(b2, 1, sd, pd_, cfg)  # replay epoch 1
    state2 = sorted(tuple(r) for r in spark.read.parquet(state_path).collect())
    pairs2 = sorted(
        tuple(r)
        for r in spark.read.parquet(_os.path.join(pd_, "data")).collect()
    )
    assert state1 == state2
    assert pairs1 == pairs2


def test_incremental_lsh_matches_batch(spark, tmp_path):
    """Streamed MinHash/LSH pairs over two micro-batches equal the batch
    operator's exact-Jaccard-verified pair set — including a near-dup pair
    whose members arrive in DIFFERENT micro-batches (band-state join +
    pruned wide-payload verify) and one within a single batch."""
    from fast_duplicate_finder_spark.config import PipelineConfig
    from fast_duplicate_finder_spark.operators.neardup import (
        minhash_pairs,
        near_dup_features,
    )
    from fast_duplicate_finder_spark.sources.transcripts import (
        assemble_conversations,
    )
    from fast_duplicate_finder_spark.streaming.incremental import (
        read_lsh_pair_log,
        run_incremental_lsh,
    )

    cfg = PipelineConfig()

    def fuzz(base_words, n_edits):
        w = list(base_words)
        for i in range(n_edits):
            w[20 * i + 3] += "x"  # scattered single-token edits
        return " ".join(w)

    a = [f"tok{i}" for i in range(300)]
    c = [f"c{i}" for i in range(300)]
    batch1 = {"a1": " ".join(a), "c1": " ".join(c), "c2": fuzz(c, 8)}
    batch2 = {"a2": fuzz(a, 8), "q1": " ".join(f"z{i}" for i in range(300))}
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    import os as _os

    for i, docs in enumerate((batch1, batch2)):
        spark.createDataFrame(
            _one_turn_rows(docs), _TRANSCRIPT_SCHEMA
        ).coalesce(1).write.parquet(str(tmp_path / f"b{i}"))
        for f in _os.listdir(tmp_path / f"b{i}"):
            if f.endswith(".parquet"):
                _os.rename(tmp_path / f"b{i}" / f, in_dir / f"part{i}.parquet")

    q = run_incremental_lsh(
        spark, str(in_dir), str(tmp_path / "work"), cfg,
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    log = read_lsh_pair_log(spark, str(tmp_path / "work"))
    got = {
        (r["conv_id_a"], r["conv_id_b"], round(r["jaccard"], 9))
        for r in log.collect()
        if r["conv_id_a"] != "_overflow"
    }

    all_rows = spark.createDataFrame(
        _one_turn_rows({**batch1, **batch2}), _TRANSCRIPT_SCHEMA
    )
    feats = near_dup_features(assemble_conversations(all_rows), cfg)
    batch_pairs, overflow = minhash_pairs(feats, cfg)
    expected = {
        (r["conv_id_a"], r["conv_id_b"], round(r["jaccard"], 9))
        for r in batch_pairs.collect()
    }
    assert overflow.count() == 0
    keys = {(p[0], p[1]) for p in got}
    assert ("a1", "a2") in keys       # cross-batch (state join + verify)
    assert ("c1", "c2") in keys       # intra-batch
    assert not any("q1" in p for p in keys)
    assert got == expected            # exact jaccard values agree too


def test_incremental_lsh_replay_idempotent_and_partitioned(spark, tmp_path):
    """Replaying an epoch of the LSH stream leaves pair log, band state
    and feature state byte-identical; both state tables land in their
    documented epoch_id partitions."""
    import os as _os

    from fast_duplicate_finder_spark.config import PipelineConfig
    from fast_duplicate_finder_spark.streaming.incremental import (
        _lsh_batch_fn,
    )

    cfg = PipelineConfig()
    base = [f"w{i}" for i in range(300)]
    edited = list(base)
    for i in range(8):
        edited[20 * i + 3] += "x"
    b1 = spark.createDataFrame(
        _one_turn_rows({"a1": " ".join(base)}), _TRANSCRIPT_SCHEMA
    )
    b2 = spark.createDataFrame(
        _one_turn_rows({"a2": " ".join(edited)}), _TRANSCRIPT_SCHEMA
    )
    sd, pd_ = str(tmp_path / "lsh_state"), str(tmp_path / "lsh_pairs")
    _lsh_batch_fn(b1, 0, sd, pd_, cfg)
    _lsh_batch_fn(b2, 1, sd, pd_, cfg)

    bands_path = _os.path.join(sd, "bands", "data")
    feats_path = _os.path.join(sd, "feats", "data")
    _epoch_dirs_hold_only_parts(bands_path)
    _epoch_dirs_hold_only_parts(feats_path)

    def snap():
        return (
            sorted(tuple(r) for r in spark.read.parquet(bands_path).collect()),
            sorted(tuple(r) for r in spark.read.parquet(feats_path).collect()),
            sorted(
                tuple(r)
                for r in spark.read.parquet(
                    _os.path.join(pd_, "data")
                ).collect()
            ),
        )

    s1 = snap()
    assert s1[2]  # the cross-epoch near-dup pair was emitted
    _lsh_batch_fn(b2, 1, sd, pd_, cfg)  # at-least-once replay
    assert snap() == s1


# ---------------------------------------------------------------------------
# Round 4: forced mid-batch crashes, atomic migration, zero-row state,
# explicit overflow flag
# ---------------------------------------------------------------------------


def _arm_crash_on_write(monkeypatch, path_suffix: str):
    """Monkeypatch DataFrameWriter.parquet to raise ONCE when writing to a
    path ending in ``path_suffix`` — simulates a process kill in the window
    between a leg's two (or three) table writes."""
    from pyspark.sql.readwriter import DataFrameWriter

    orig = DataFrameWriter.parquet
    armed = {"on": True}

    def failing(self, path, *a, **kw):
        if armed["on"] and str(path).endswith(path_suffix):
            armed["on"] = False
            raise RuntimeError(f"injected crash before write to {path}")
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    return armed


def _simhash_batches(spark):
    base = " ".join(f"w{i}" for i in range(200))
    b1 = spark.createDataFrame(
        _one_turn_rows({"a1": base}), _TRANSCRIPT_SCHEMA
    )
    b2 = spark.createDataFrame(
        _one_turn_rows({"a2": base.replace("w100", "w100x")}),
        _TRANSCRIPT_SCHEMA,
    )
    return b1, b2


def test_simhash_crash_between_pairs_and_state_writes(
    spark, tmp_path, monkeypatch
):
    """VERDICT round-3 #6: kill the simhash leg BETWEEN the pair-log write
    and the state write, restart the epoch, and the logs come out
    byte-identical to an uninterrupted run (the documented at-least-once
    replay contract, now pinned for the multi-table leg)."""
    import pytest as _pytest

    from fast_duplicate_finder_spark.config import PipelineConfig
    from fast_duplicate_finder_spark.streaming.incremental import (
        _simhash_batch_fn,
    )

    cfg = PipelineConfig()
    b1, b2 = _simhash_batches(spark)

    # reference: uninterrupted run
    rd, rp = str(tmp_path / "ref_state"), str(tmp_path / "ref_pairs")
    _simhash_batch_fn(b1, 0, rd, rp, cfg)
    _simhash_batch_fn(b2, 1, rd, rp, cfg)

    sd, pd_ = str(tmp_path / "sim_state"), str(tmp_path / "near_pairs")
    _simhash_batch_fn(b1, 0, sd, pd_, cfg)
    armed = _arm_crash_on_write(monkeypatch, "sim_state/data")
    with _pytest.raises(RuntimeError, match="injected crash"):
        _simhash_batch_fn(b2, 1, sd, pd_, cfg)  # pairs written, state not
    assert not armed["on"]
    _simhash_batch_fn(b2, 1, sd, pd_, cfg)  # restart replays epoch 1

    def rows(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    assert rows(os.path.join(pd_, "data")) == rows(os.path.join(rp, "data"))
    assert rows(os.path.join(sd, "data")) == rows(os.path.join(rd, "data"))


@pytest.mark.parametrize("crash_at", ["bands/data", "feats/data"])
def test_lsh_crash_windows_replay_identical(
    spark, tmp_path, monkeypatch, crash_at
):
    """The LSH leg writes THREE tables (pairs, band state, feature state) —
    two distinct crash windows. Kill in each window, restart, and all
    three tables equal the uninterrupted run's."""
    import pytest as _pytest

    from fast_duplicate_finder_spark.config import PipelineConfig
    from fast_duplicate_finder_spark.streaming.incremental import (
        _lsh_batch_fn,
    )

    cfg = PipelineConfig()
    base = [f"w{i}" for i in range(300)]
    edited = list(base)
    for i in range(8):
        edited[20 * i + 3] += "x"
    b1 = spark.createDataFrame(
        _one_turn_rows({"a1": " ".join(base)}), _TRANSCRIPT_SCHEMA
    )
    b2 = spark.createDataFrame(
        _one_turn_rows({"a2": " ".join(edited)}), _TRANSCRIPT_SCHEMA
    )

    rd, rp = str(tmp_path / "ref_state"), str(tmp_path / "ref_pairs")
    _lsh_batch_fn(b1, 0, rd, rp, cfg)
    _lsh_batch_fn(b2, 1, rd, rp, cfg)

    sd, pd_ = str(tmp_path / "lsh_state"), str(tmp_path / "lsh_pairs")
    _lsh_batch_fn(b1, 0, sd, pd_, cfg)
    armed = _arm_crash_on_write(monkeypatch, crash_at)
    with _pytest.raises(RuntimeError, match="injected crash"):
        _lsh_batch_fn(b2, 1, sd, pd_, cfg)
    assert not armed["on"]
    _lsh_batch_fn(b2, 1, sd, pd_, cfg)  # restart

    def rows(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    for sub in ("bands/data", "feats/data"):
        assert rows(os.path.join(sd, sub)) == rows(os.path.join(rd, sub))
    assert rows(os.path.join(pd_, "data")) == rows(os.path.join(rp, "data"))
    pairs = spark.read.parquet(os.path.join(pd_, "data"))
    real = pairs.filter(~F.col("is_overflow"))
    assert real.count() >= 1  # the cross-epoch near-dup pair
    assert not any("_overflow" in r["conv_id_a"] for r in real.collect())


def test_zero_row_state_write_does_not_wedge_stream(spark, tmp_path):
    """ADVICE round-3: a first micro-batch whose docs are all filtered out
    (empty texts -> empty shingle sets) writes a state dir holding only
    _SUCCESS; every later batch must treat that as NO state, not die in
    parquet schema inference forever."""
    from fast_duplicate_finder_spark.config import PipelineConfig
    from fast_duplicate_finder_spark.streaming.incremental import (
        _dedup_batch,
        _lsh_batch_fn,
        _simhash_batch_fn,
        read_lsh_pair_log,
        read_near_pair_log,
    )

    cfg = PipelineConfig()
    empty = spark.createDataFrame(
        _one_turn_rows({"e1": ""}), _TRANSCRIPT_SCHEMA
    )
    base = " ".join(f"w{i}" for i in range(120))
    good = spark.createDataFrame(
        _one_turn_rows({"g1": base, "g2": base}), _TRANSCRIPT_SCHEMA
    )

    sd, pd_ = str(tmp_path / "sim_state"), str(tmp_path / "near_pairs")
    _simhash_batch_fn(empty, 0, sd, pd_, cfg)   # zero state rows
    _simhash_batch_fn(good, 1, sd, pd_, cfg)    # must not raise
    log = read_near_pair_log(spark, str(tmp_path))
    assert "is_overflow" in log.columns

    ld, lp = str(tmp_path / "lsh_state"), str(tmp_path / "lsh_pairs")
    _lsh_batch_fn(empty, 0, ld, lp, cfg)
    _lsh_batch_fn(good, 1, ld, lp, cfg)
    lpairs = read_lsh_pair_log(spark, str(tmp_path))
    assert {(r["conv_id_a"], r["conv_id_b"])
            for r in lpairs.filter(~F.col("is_overflow")).collect()
            } == {("g1", "g2")}

    # exact leg: an empty batch writes zero state rows too
    dd, dp = str(tmp_path / "d_state"), str(tmp_path / "d_dups")
    nothing = spark.createDataFrame([], _TRANSCRIPT_SCHEMA)
    _dedup_batch(nothing, 0, dd, dp)
    _dedup_batch(good, 1, dd, dp)  # must not raise


def test_uncommitted_staging_parts_do_not_wedge_stream(spark, tmp_path):
    """A batch KILLED mid state-write (process death, not exception) leaves
    only uncommitted part files under hidden dirs (_temporary /
    .spark-staging-*) that Spark's reader ignores. _has_parts must prune
    hidden entries exactly like the reader does — counting them sends the
    replay into a spark.read.parquet that lists zero visible files and
    fails schema inference on every subsequent trigger."""
    from fast_duplicate_finder_spark.streaming.incremental import (
        _dedup_batch,
        _has_parts,
    )

    # unit: hidden dirs/files never count; visible parts do
    d = tmp_path / "probe"
    (d / "_temporary" / "0" / "t0").mkdir(parents=True)
    (d / "_temporary" / "0" / "t0" / "part-00000.parquet").write_bytes(b"x")
    (d / ".spark-staging-abc").mkdir()
    (d / ".spark-staging-abc" / "part-00001.parquet").write_bytes(b"x")
    (d / ".hidden.parquet").write_bytes(b"x")
    (d / "_SUCCESS").write_bytes(b"")
    assert not _has_parts(str(d))
    (d / "epoch_id=0").mkdir()
    (d / "epoch_id=0" / "part-00000.parquet").write_bytes(b"x")
    assert _has_parts(str(d))

    # end-to-end: epoch 0 died mid-write leaving ONLY staging leftovers;
    # the next batch must treat that as NO state and run clean
    base = " ".join(f"w{i}" for i in range(120))
    good = spark.createDataFrame(
        _one_turn_rows({"g1": base, "g2": base}), _TRANSCRIPT_SCHEMA
    )
    dd, dp = str(tmp_path / "d_state"), str(tmp_path / "d_dups")
    staging = os.path.join(dd, "data", "_temporary", "0", "task")
    os.makedirs(staging)
    with open(os.path.join(staging, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    _dedup_batch(good, 1, dd, dp)  # must not raise


def test_overflow_markers_flagged(spark, tmp_path):
    """ADVICE round-3: marker rows are explicit (`is_overflow = true`), so
    a consumer aggregating the log can filter without knowing the
    '_overflow' id convention. Force a hot state bucket with a cap of 1."""
    import dataclasses

    from fast_duplicate_finder_spark.config import PipelineConfig
    from fast_duplicate_finder_spark.streaming.incremental import (
        _simhash_batch_fn,
        read_near_pair_log,
    )

    cfg = dataclasses.replace(PipelineConfig(), max_band_bucket=1)
    base = " ".join(f"w{i}" for i in range(120))
    b1 = spark.createDataFrame(
        _one_turn_rows({"a1": base, "a2": base}), _TRANSCRIPT_SCHEMA
    )
    b2 = spark.createDataFrame(
        _one_turn_rows({"a3": base}), _TRANSCRIPT_SCHEMA
    )
    sd, pd_ = str(tmp_path / "sim_state"), str(tmp_path / "near_pairs")
    _simhash_batch_fn(b1, 0, sd, pd_, cfg)
    _simhash_batch_fn(b2, 1, sd, pd_, cfg)
    log = read_near_pair_log(spark, str(tmp_path)).collect()
    markers = [r for r in log if r["is_overflow"]]
    real = [r for r in log if not r["is_overflow"]]
    assert markers, "cap of 1 over a 2-row state bucket must emit a marker"
    assert all(r["conv_id_a"] == "_overflow" for r in markers)
    assert all(r["conv_id_a"] != "_overflow" for r in real)


def test_lsh_first_epoch_crash_does_not_wedge_stream(
    spark, tmp_path, monkeypatch
):
    """Crash the VERY FIRST epoch between the bands write and the feats
    write: on replay, bands state exists but feats state does not. The
    cross-batch path must skip (both state tables are required) instead of
    reading the missing feats dir and failing every replay forever."""
    import pytest as _pytest

    from fast_duplicate_finder_spark.config import PipelineConfig
    from fast_duplicate_finder_spark.streaming.incremental import (
        _lsh_batch_fn,
    )

    cfg = PipelineConfig()
    base = [f"w{i}" for i in range(300)]
    edited = list(base)
    for i in range(8):
        edited[20 * i + 3] += "x"
    b1 = spark.createDataFrame(
        _one_turn_rows({"a1": " ".join(base)}), _TRANSCRIPT_SCHEMA
    )
    b2 = spark.createDataFrame(
        _one_turn_rows({"a2": " ".join(edited)}), _TRANSCRIPT_SCHEMA
    )

    rd, rp = str(tmp_path / "ref_state"), str(tmp_path / "ref_pairs")
    _lsh_batch_fn(b1, 0, rd, rp, cfg)
    _lsh_batch_fn(b2, 1, rd, rp, cfg)

    sd, pd_ = str(tmp_path / "lsh_state"), str(tmp_path / "lsh_pairs")
    armed = _arm_crash_on_write(monkeypatch, "feats/data")
    with _pytest.raises(RuntimeError, match="injected crash"):
        _lsh_batch_fn(b1, 0, sd, pd_, cfg)  # pairs + bands written, feats not
    assert not armed["on"]
    _lsh_batch_fn(b1, 0, sd, pd_, cfg)  # replay epoch 0 must recover
    _lsh_batch_fn(b2, 1, sd, pd_, cfg)

    def rows(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    for sub in ("bands/data", "feats/data"):
        assert rows(os.path.join(sd, sub)) == rows(os.path.join(rd, sub))
    assert rows(os.path.join(pd_, "data")) == rows(os.path.join(rp, "data"))


# --- incremental clustering (pairs stream -> labels) -------------------------

_PAIR_ROWS_SCHEMA = "conv_id_a string, conv_id_b string, is_overflow boolean"


def _pair_batches_with_chains():
    """Epoch layout exercising every structural case:

    * e0: two fresh components ({w,z} root w, {x,y} root x);
    * e1: {q,w} dethrones w (merge w->q); a pair WITHIN {x,y} (no merge);
    * e2: {h,q} dethrones q (merge q->h, so z's base label w now chases
      w->q->h); (b,x) dethrones x;
    * e3: (a,h) + (a,b) union BOTH components under a — plus a marker row
      and a repeated pair, both no-ops.
    Final truth: one component rooted at 'a' for all of {a,b,h,q,w,x,y,z}.
    """
    return [
        [("w", "z", False), ("x", "y", False)],
        [("q", "w", False), ("x", "y", False)],
        [("h", "q", False), ("b", "x", False)],
        [("a", "h", False), ("a", "b", False),
         ("_overflow", "band_7", True), ("w", "z", False)],
    ]


def test_incremental_clusters_match_batch_cc(spark, tmp_path):
    """Streamed labels == connected_components over the union of all pair
    batches, through cross-epoch merges, 3-hop merge chains, intra-component
    no-op pairs, repeats, and marker rows."""
    import glob
    import shutil

    from fast_duplicate_finder_spark.operators.connected_components import (
        connected_components,
    )
    from fast_duplicate_finder_spark.streaming.incremental import (
        read_cluster_labels,
        run_incremental_clusters,
    )

    batches = _pair_batches_with_chains()
    inp = tmp_path / "in"
    inp.mkdir()
    for i, rows in enumerate(batches):
        tmp = tmp_path / f"tmp{i}"
        spark.createDataFrame(rows, _PAIR_ROWS_SCHEMA).coalesce(
            1
        ).write.parquet(str(tmp))
        part = glob.glob(str(tmp / "part*.parquet"))[0]
        shutil.move(part, str(inp / f"b{i:02d}.parquet"))

    wd = str(tmp_path / "clusters")
    q = run_incremental_clusters(spark, str(inp), wd, max_files_per_trigger=1)
    q.awaitTermination(300)

    got = {
        (r["conv_id"], r["label"])
        for r in read_cluster_labels(spark, wd).collect()
    }
    allp = spark.createDataFrame(
        [r[:2] for b in batches for r in b if not r[2]],
        "conv_id_a string, conv_id_b string",
    )
    want = {
        (r["conv_id"], r["component"])
        for r in connected_components(allp).collect()
    }
    assert got == want
    assert {lbl for _, lbl in got} == {"a"}
    # merge log holds exactly the dethroned roots, nothing redundant
    merges = {
        (r["label_from"], r["label_to"])
        for r in spark.read.parquet(
            os.path.join(wd, "merges", "data")
        ).collect()
    }
    assert merges == {("w", "q"), ("q", "h"), ("x", "b"), ("h", "a"), ("b", "a")}


def test_incremental_clusters_replay_idempotent(spark, tmp_path):
    """Re-running an epoch (at-least-once foreachBatch) rewrites exactly its
    own partitions with identical rows: state and labels unchanged."""
    from fast_duplicate_finder_spark.streaming.incremental import (
        _clusters_batch,
        read_cluster_labels,
    )

    batches = _pair_batches_with_chains()
    bd, md = str(tmp_path / "base"), str(tmp_path / "merges")
    for i, rows in enumerate(batches):
        _clusters_batch(
            spark.createDataFrame(rows, _PAIR_ROWS_SCHEMA), i, bd, md
        )

    def snap():
        base = sorted(
            tuple(r)
            for r in spark.read.parquet(os.path.join(bd, "data")).collect()
        )
        merges = sorted(
            tuple(r)
            for r in spark.read.parquet(os.path.join(md, "data")).collect()
        )
        return base, merges

    before = snap()
    # replay all three merge-writing epochs (e1: w->q; e2: q->h, x->b;
    # e3: h->a, b->a), out of order
    for i in (2, 3, 1):
        _clusters_batch(
            spark.createDataFrame(batches[i], _PAIR_ROWS_SCHEMA), i, bd, md
        )
    assert snap() == before
    labels = {
        (r["conv_id"], r["label"])
        for r in read_cluster_labels(spark, str(tmp_path)).collect()
    }
    assert {lbl for _, lbl in labels} == {"a"}


def test_incremental_clusters_crash_between_writes(
    spark, tmp_path, monkeypatch
):
    """Kill the leg BETWEEN the base write and the merges write, restart the
    epoch: state and labels come out byte-identical to an uninterrupted
    run (the same at-least-once contract the other legs pin)."""
    import pytest as _pytest

    from fast_duplicate_finder_spark.streaming.incremental import (
        _clusters_batch,
        read_cluster_labels,
    )

    batches = _pair_batches_with_chains()

    def run(tag, crash_epoch=None):
        root = tmp_path / tag
        bd, md = str(root / "base"), str(root / "merges")
        for i, rows in enumerate(batches):
            df = spark.createDataFrame(rows, _PAIR_ROWS_SCHEMA)
            if i == crash_epoch:
                armed = _arm_crash_on_write(monkeypatch, f"{tag}/merges/data")
                with _pytest.raises(RuntimeError, match="injected crash"):
                    _clusters_batch(df, i, bd, md)  # base written, merges not
                assert not armed["on"]
                monkeypatch.undo()
                _clusters_batch(df, i, bd, md)  # restart replays the epoch
            else:
                _clusters_batch(df, i, bd, md)
        return root, bd, md

    ref_root, rbd, rmd = run("ref")
    got_root, gbd, gmd = run("crash", crash_epoch=2)

    def rows(path):
        return sorted(
            tuple(r) for r in spark.read.parquet(path).collect()
        )

    assert rows(os.path.join(gbd, "data")) == rows(os.path.join(rbd, "data"))
    assert rows(os.path.join(gmd, "data")) == rows(os.path.join(rmd, "data"))
    got = {
        (r["conv_id"], r["label"])
        for r in read_cluster_labels(spark, str(got_root)).collect()
    }
    ref = {
        (r["conv_id"], r["label"])
        for r in read_cluster_labels(spark, str(ref_root)).collect()
    }
    assert got == ref and {lbl for _, lbl in got} == {"a"}


def test_compact_cluster_state(spark, tmp_path):
    """Compaction folds the merge closure into base under reserved epoch
    -2, truncates the merge log, preserves labels exactly — and the stream
    continues on top: a later epoch can still dethrone a compacted root.
    Crash-window leftovers are exercised both ways: stale merge rows left
    by a crash before the log removal are harmless (their label_from
    values no longer occur as base labels), and a crash between the two
    renames (base absent, completed .compact present) is recovered on the
    next call."""
    from fast_duplicate_finder_spark.operators.connected_components import (
        connected_components,
    )
    from fast_duplicate_finder_spark.streaming.incremental import (
        COMPACTED_EPOCH,
        _clusters_batch,
        _has_parts,
        compact_cluster_state,
        read_cluster_labels,
    )

    batches = _pair_batches_with_chains()
    bd, md = str(tmp_path / "base"), str(tmp_path / "merges")
    for i, rows in enumerate(batches):
        _clusters_batch(
            spark.createDataFrame(rows, _PAIR_ROWS_SCHEMA), i, bd, md
        )
    wd = str(tmp_path)

    def labels():
        return {
            (r["conv_id"], r["label"])
            for r in read_cluster_labels(spark, wd).collect()
        }

    before = labels()
    compact_cluster_state(spark, wd)
    assert labels() == before
    assert not _has_parts(os.path.join(md, "data"))
    epochs = {
        r["epoch_id"]
        for r in spark.read.parquet(os.path.join(bd, "data"))
        .select("epoch_id")
        .distinct()
        .collect()
    }
    assert epochs == {COMPACTED_EPOCH}

    # a crash before the log removal leaves stale merge edges behind —
    # label_from values are dethroned roots absent from base, so the
    # closure join must match nothing
    stale = spark.createDataFrame(
        [("w", "q", 2)], "label_from string, label_to string, epoch_id int"
    )
    stale.write.mode("overwrite").partitionBy("epoch_id").parquet(
        os.path.join(md, "data")
    )
    assert labels() == before

    # the stream continues over compacted state: epoch 4 dethrones 'a'
    _clusters_batch(
        spark.createDataFrame([("A", "a", False)], _PAIR_ROWS_SCHEMA),
        4, bd, md,
    )
    allp = spark.createDataFrame(
        [r[:2] for b in batches for r in b if not r[2]] + [("A", "a")],
        "conv_id_a string, conv_id_b string",
    )
    want = {
        (r["conv_id"], r["component"])
        for r in connected_components(allp).collect()
    }
    assert labels() == want and {lbl for _, lbl in labels()} == {"A"}

    # crash between the renames: base absent + a COMPLETE .compact
    compact_cluster_state(spark, wd)  # clean second compaction first
    base_data = os.path.join(bd, "data")
    os.replace(base_data, base_data + ".compact")  # has _SUCCESS
    compact_cluster_state(spark, wd)  # recovery path finishes the swap
    assert labels() == want
    assert not os.path.exists(base_data + ".compact")


def test_deep_merge_chain_resolves_via_compressed_fallback(spark, tmp_path):
    """A deep merge chain resolves through the one path-doubled merge map
    (_resolve_labels) instead of wedging the stream: 9 epochs each dethrone
    the root with a smaller conv (an 8-hop chain c8->c7->...->c0), then a
    batch touches the chain's tail conv whose base label needs the full
    chase."""
    from fast_duplicate_finder_spark.streaming.incremental import (
        _clusters_batch,
        read_cluster_labels,
    )

    bd, md = str(tmp_path / "base"), str(tmp_path / "merges")

    def df(rows):
        return spark.createDataFrame(
            [(a, b, False) for a, b in rows], _PAIR_ROWS_SCHEMA
        )

    _clusters_batch(df([("c9", "c8")]), 0, bd, md)  # base: c9 -> c8
    for i in range(1, 9):  # epoch i dethrones c{9-i} with c{8-i}
        _clusters_batch(df([(f"c{8 - i}", f"c{9 - i}")]), i, bd, md)
    # epoch 9: c9's base label c8 now chases 8 hops
    _clusters_batch(df([("c9", "d0")]), 9, bd, md)
    labels = {
        (r["conv_id"], r["label"])
        for r in read_cluster_labels(spark, str(tmp_path)).collect()
    }
    assert labels == {(f"c{i}", "c0") for i in range(10)} | {("d0", "c0")}


# --- stream start and compaction guards --------------------------------------


def _tree(path):
    return sorted(
        os.path.relpath(os.path.join(d, f), path)
        for d, _, files in os.walk(path)
        for f in files
    )


def test_stream_start_recovers_half_swapped_state(spark, corpus_dir, tmp_path):
    """A compaction that crashed between its renames leaves no live state
    table and a completed ``.compact`` rewrite. A stream restarted in that
    window must finish the swap before its first batch: reading "no state"
    would re-register every known hash as a first, and the duplicates of
    file 1 in file 2 would go missing from the log."""
    import shutil

    from fast_duplicate_finder_spark.streaming.incremental import (
        compact_dedup_state,
    )

    files = sorted(os.listdir(corpus_dir))  # part0 = file 1, part1 = file 2

    def stream_two_files(name, crash):
        inp, work = tmp_path / f"in_{name}", str(tmp_path / name)
        inp.mkdir()
        for f in files:
            shutil.copy(os.path.join(corpus_dir, f), inp / f)
            q = run_incremental_dedup(spark, str(inp), work)
            assert q.awaitTermination(600)
            if crash and f == files[0]:
                compact_dedup_state(spark, work)
                state = os.path.join(work, "state", "data")
                os.replace(state, state + ".compact")
        return sorted(tuple(r) for r in read_dup_log(spark, work).collect())

    ref = stream_two_files("uninterrupted", crash=False)
    file1 = {
        r["conv_id"]
        for r in spark.read.parquet(os.path.join(corpus_dir, files[0]))
        .select("conv_id")
        .collect()
    }
    # the log holds file-2 duplicates of file-1 conversations
    assert any(r[4] == 1 and r[3] in file1 for r in ref)
    assert stream_two_files("crashed", crash=True) == ref


def test_compaction_refuses_uncommitted_batch(spark, corpus_dir, tmp_path):
    """Compaction of a stream whose checkpoint plans a batch (offsets/N)
    that never committed would fold the batch's half-write into the prior
    state its replay reads, so every compactor raises before touching
    state. Once a restarted stream has replayed the batch, compaction
    runs."""
    from fast_duplicate_finder_spark.streaming import incremental as inc

    work = str(tmp_path / "work")
    q = run_incremental_dedup(spark, corpus_dir, work, max_files_per_trigger=1)
    assert q.awaitTermination(600)
    commits = os.path.join(work, "_stream_checkpoint", "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    assert last == 1
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    # the other legs' compactors read their own checkpoints
    for ckpt in ("_simhash_stream_checkpoint", "_lsh_stream_checkpoint"):
        os.makedirs(os.path.join(work, ckpt, "offsets"))
        open(os.path.join(work, ckpt, "offsets", "0"), "w").close()

    state = os.path.join(work, "state", "data")
    dups = sorted(tuple(r) for r in read_dup_log(spark, work).collect())
    before = _tree(work)
    for compactor in (
        inc.compact_dedup_state,
        inc.compact_simhash_state,
        inc.compact_lsh_state,
        inc.compact_cluster_state,
    ):
        with pytest.raises(RuntimeError, match="not committed"):
            compactor(spark, work)
    assert _tree(work) == before

    # restart: epoch 1 replays, byte-identically, and commits
    q = run_incremental_dedup(spark, corpus_dir, work, max_files_per_trigger=1)
    assert q.awaitTermination(600)
    assert os.path.exists(os.path.join(commits, str(last)))
    inc.compact_dedup_state(spark, work)
    assert [d for d in os.listdir(state) if d.startswith("epoch_id=")] == [
        f"epoch_id={inc.COMPACTED_EPOCH}"
    ]
    assert sorted(tuple(r) for r in read_dup_log(spark, work).collect()) == dups
