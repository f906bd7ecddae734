from __future__ import annotations

from pyspark.sql import functions as F

from fast_duplicate_finder_spark.config import PipelineConfig
from fast_duplicate_finder_spark.corpus import generate_transcripts
from fast_duplicate_finder_spark.plans.pipeline import run_pipeline
from fast_duplicate_finder_spark.sources.transcripts import assemble_conversations

from tests.oracle import assemble_locally, exact_clusters_oracle

CFG = PipelineConfig()


def _rows(spark, n=200):
    df = generate_transcripts(spark, n_convs=n, seed=42)
    return df, df.collect()


def _cascade(spark, df, tmp_path):
    """The exact cascade (p1-p3) as run_pipeline composes it."""
    return run_pipeline(
        spark, df, CFG, str(tmp_path / "ckpt"),
        with_near_dup=False, with_groups=False,
    )


def test_assembly_matches_local_oracle_and_is_order_stable(spark):
    df, rows = _rows(spark, 100)
    local = assemble_locally([tuple(r) for r in rows])
    assembled = {
        r["conv_id"]: r["doc"] for r in assemble_conversations(df).collect()
    }
    assert assembled == local
    # physical-order scramble invariance: corpus already shuffles rows, but
    # force a different order and repartitioning too
    df2 = df.orderBy(F.desc("text")).repartition(7)
    assembled2 = {
        r["conv_id"]: r["doc"] for r in assemble_conversations(df2).collect()
    }
    assert assembled2 == local


def test_exact_clusters_match_bruteforce(spark, tmp_path):
    df, rows = _rows(spark, 200)
    local_docs = assemble_locally([tuple(r) for r in rows])
    expected = exact_clusters_oracle(local_docs)
    out = _cascade(spark, df, tmp_path).exact_clusters.collect()
    got = {r["conv_id"]: r["cluster_id"] for r in out}
    assert got == expected
    # planted blocks contain pairs and triples (near-dup copies with zero
    # realized edits may enlarge a cluster, so sizes are >= planted)
    sizes = {r["cluster_id"]: r["cluster_size"] for r in out}
    assert min(sizes.values()) >= 2
    assert 2 in sizes.values() and 3 in sizes.values()


def test_cascade_stages_only_shrink(spark, tmp_path):
    df, _ = _rows(spark, 200)
    rows = {
        m["phase"]: m["rows"] for m in _cascade(spark, df, tmp_path).metrics
    }
    n1 = rows["p1_prefilter"]
    n2 = rows["p2_partial"]
    n3 = rows["p3_exact"]
    assert n1 >= n2 >= n3 > 0


def test_empty_and_singleton(spark, tmp_path):
    from fast_duplicate_finder_spark.corpus import TRANSCRIPT_SCHEMA
    import datetime as dt

    ts = dt.datetime(2020, 1, 1)
    rows = [
        ("a", 0, "user", "", "", ts),          # empty text, singleton conv
        ("b", 0, "user", "hello", "", ts),     # singleton
        ("c", 0, "user", "same text", "", ts),
        ("d", 0, "user", "same text", "", ts),
    ]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    out = _cascade(spark, df, tmp_path).exact_clusters.collect()
    got = {r["conv_id"]: r["cluster_id"] for r in out}
    assert got == {"c": "c", "d": "c"}
