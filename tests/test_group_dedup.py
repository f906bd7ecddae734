from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from fast_duplicate_finder_spark.config import PipelineConfig
from fast_duplicate_finder_spark.corpus import TRANSCRIPT_SCHEMA, generate_grouped_transcripts
from fast_duplicate_finder_spark.operators.group_dedup import duplicate_folders
from fast_duplicate_finder_spark.plans.pipeline import run_pipeline
from fast_duplicate_finder_spark.sources.transcripts import assemble_conversations
from fast_duplicate_finder_spark.storage import CheckpointStore

CFG = PipelineConfig()


def _group_dedup(spark, transcripts, tmp_path, cfg=CFG):
    """Phases p0-p5 as run_pipeline composes them -> (report, the
    pre-suppression duplicate-folder set read back from p4_group_sigs)."""
    ckpt = str(tmp_path / "ckpt")
    report = run_pipeline(spark, transcripts, cfg, ckpt, with_near_dup=False)
    sigs = CheckpointStore(spark, ckpt, cfg.fingerprint()).read(
        "p4_group_sigs"
    )
    return report, duplicate_folders(sigs)


def test_hand_fixture_group_semantics(spark, tmp_path):
    ts = dt.datetime(2020, 1, 1)
    mk = lambda cid, text: (cid, 0, "user", text, "", ts)
    rows = [
        # flat dup folder pair: A and B identical member-by-member
        mk("A/c0", "alpha"), mk("A/c1", "beta"),
        mk("B/c0", "alpha"), mk("B/c1", "beta"),
        # C duplicates A's content but under different member names ->
        # different items (F:name:hash) -> NOT a folder dup of A
        mk("C/x0", "alpha"), mk("C/x1", "beta"),
        # nested: N1 and N2 with identical subfolders
        mk("N1/s/a", "n-one"), mk("N1/s/b", "n-two"), mk("N1/top", "n-top"),
        mk("N2/s/a", "n-one"), mk("N2/s/b", "n-two"), mk("N2/top", "n-top"),
        # unique member short-circuit: U1/U2 identical except U2/u1 unique
        mk("U1/u0", "u-same"), mk("U1/u1", "u-mine"),
        mk("U2/u0", "u-same"), mk("U2/u1", "u-theirs-unique"),
        # flat conv without folder
        mk("solo", "alpha"),
    ]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    report, dups = _group_dedup(spark, df, tmp_path)

    dup_folders = {r["folder"] for r in dups.collect()}
    # A==B (same names+content); C excluded (names differ); N1==N2 and
    # N1/s==N2/s; U1/U2 excluded (unique member)
    assert dup_folders == {"A", "B", "N1", "N2", "N1/s", "N2/s"}

    top = {r["folder"]: r["cluster_id"] for r in report.top_folders.collect()}
    # nested N1/s,N2/s suppressed; top-level survive
    assert set(top) == {"A", "B", "N1", "N2"}
    assert top["A"] == top["B"] == "A"
    assert top["N1"] == top["N2"] == "N1"

    kept = {r["conv_id"] for r in report.file_clusters_filtered.collect()}
    # members of dup folders suppressed from the file-level report;
    # C's members are dups of A/B members (content equal) and C is not a
    # dup folder -> kept; U's shared member kept; 'solo' matches alpha -> kept
    assert kept == {"C/x0", "C/x1", "U1/u0", "U2/u0", "solo"}


def test_grouped_corpus_planted_expectations(spark, tmp_path):
    df = generate_grouped_transcripts(spark, n_groups=12, convs_per_group=4)
    report, dups = _group_dedup(spark, df, tmp_path)

    top = {r["folder"]: r["cluster_id"] for r in report.top_folders.collect()}
    # scenario 0: grp0==grp1; scenario 2 (nested): grp2==grp3;
    # scenario 4 (unique member): not clustered; groups >=6 unique
    assert top == {"grp0": "grp0", "grp1": "grp0", "grp2": "grp2", "grp3": "grp2"}

    # nested subfolders were detected as dups but suppressed
    all_dup = {r["folder"] for r in dups.collect()}
    assert any(f.startswith("grp2/sub") for f in all_dup)
    assert not any(f.startswith("grp2/sub") for f in top)

    # unique-member pair grp4/grp5: shared members remain file-level dups
    kept = {r["conv_id"] for r in report.file_clusters_filtered.collect()}
    assert any(c.startswith("grp4/") for c in kept)
    assert any(c.startswith("grp5/") for c in kept)
    assert not any(c.startswith("grp0/") or c.startswith("grp2/") for c in kept)


def test_group_sep_is_config_not_hardcoded(spark, tmp_path):
    """The same hierarchy expressed with a ':' separator must produce the
    same folder clusters when cfg.group_sep says so (the module docstring
    promises 'the separator is config')."""
    import datetime as dt

    from fast_duplicate_finder_spark.operators.group_dedup import (
        folder_recursive_sizes,
    )

    ts = dt.datetime(2020, 1, 1)
    mk = lambda cid, text: (cid, 0, "user", text, "", ts)
    rows = [
        mk("A:c0", "alpha"), mk("A:c1", "beta"),
        mk("B:c0", "alpha"), mk("B:c1", "beta"),
        mk("N1:s:a", "n-one"), mk("N1:s:b", "n-two"),
        mk("N2:s:a", "n-one"), mk("N2:s:b", "n-two"),
        mk("solo", "alpha"),
    ]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    cfg = PipelineConfig(group_sep=":")
    report, dups = _group_dedup(spark, df, tmp_path, cfg)

    dup_folders = {r["folder"] for r in dups.collect()}
    assert dup_folders == {"A", "B", "N1", "N2", "N1:s", "N2:s"}
    top = {r["folder"] for r in report.top_folders.collect()}
    assert top == {"A", "B", "N1", "N2"}

    # recursive sizes honor the separator too
    sizes = assemble_conversations(df).select(
        "conv_id", F.length("doc").alias("size")
    )
    got = {
        r["folder"]: r["size_chars"]
        for r in folder_recursive_sizes(
            sizes, report.top_folders, sep=":"
        ).collect()
    }
    assert got["A"] == len("alpha") + len("beta")
    assert got["N1"] == len("n-one") + len("n-two")


def test_partially_nested_group_survives_whole(spark, tmp_path):
    """Reference parity (phase_5.go:155-183 buildFilteredFolderMap): a
    signature group with at least one top-level member keeps ALL its
    members — including nested ones. x/s and y/s are nested under dup
    folders x and y, but standalone w shares their signature, so the
    whole group {x/s, y/s, w} must be reported (a per-folder filter
    would shrink it to {w} and leave cluster_size stale)."""
    import datetime as dt

    ts = dt.datetime(2020, 1, 1)
    mk = lambda cid, text: (cid, 0, "user", text, "", ts)
    rows = [
        # x and y duplicate folders (same member names + contents,
        # including subfolder s)
        mk("x/s/a", "sub-a"), mk("x/s/b", "sub-b"), mk("x/top", "t"),
        mk("y/s/a", "sub-a"), mk("y/s/b", "sub-b"), mk("y/top", "t"),
        # w duplicates ONLY the subfolder s (same member names + contents)
        mk("w/a", "sub-a"), mk("w/b", "sub-b"),
    ]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    report, dups = _group_dedup(spark, df, tmp_path)

    dup_folders = {r["folder"] for r in dups.collect()}
    assert dup_folders == {"x", "y", "x/s", "y/s", "w"}

    top = {
        r["folder"]: (r["cluster_id"], r["cluster_size"])
        for r in report.top_folders.collect()
    }
    # group {x,y} survives; group {x/s, y/s, w} survives WHOLE because w
    # is top-level — nested members x/s, y/s stay in the report
    assert set(top) == {"x", "y", "x/s", "y/s", "w"}
    assert top["w"] == top["x/s"] == top["y/s"]  # one set, one label
    assert top["w"][1] == 3  # cluster_size == surviving membership
    # fully-nested-group case is pinned by test_hand_fixture_group_semantics
