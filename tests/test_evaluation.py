"""Recall evaluation harness: planted-pair enumeration matches the
generator's block layout, tiers are derived from the data, and the full
near-dup stack meets the BASELINE.json >=0.99 dup-pair recall gate on a
multi-block distributed corpus (the same measurement scripts/recall_probe.py
records at ladder scale in BENCH/recall_r4.json)."""

from __future__ import annotations

from pyspark.sql import functions as F

from fast_duplicate_finder_spark.config import DEFAULT_CONFIG
from fast_duplicate_finder_spark.corpus import generate_transcripts_distributed
from fast_duplicate_finder_spark.evaluation import (
    PLANTED_PAIR_OFFSETS,
    ground_truth_tiers,
    planted_pairs,
    recall_report,
)
from fast_duplicate_finder_spark.plans.pipeline import run_pipeline
from fast_duplicate_finder_spark.sources.transcripts import (
    assemble_conversations,
)

N_CONVS = 1000  # 50 full blocks -> 600 planted pairs


def test_planted_pairs_enumeration(spark):
    pp = planted_pairs(spark, N_CONVS)
    assert pp.count() == (N_CONVS // 20) * len(PLANTED_PAIR_OFFSETS)
    # a trailing partial block plants nothing
    assert planted_pairs(spark, N_CONVS + 19).count() == pp.count()
    # ids match the distributed generator's format and block arithmetic
    row = pp.orderBy("conv_id_a", "conv_id_b").first()
    assert row["conv_id_a"] == "conv000000012"
    assert row["conv_id_b"] == "conv000000013"


def test_ground_truth_tiers_from_data(spark):
    t = generate_transcripts_distributed(spark, N_CONVS)
    docs = assemble_conversations(t)
    truth = ground_truth_tiers(
        docs, planted_pairs(spark, N_CONVS), DEFAULT_CONFIG
    ).cache()
    by_tier = {
        r["tier"]: r["n"]
        for r in truth.groupBy("tier").agg(F.count("*").alias("n")).collect()
    }
    # the exact families (12,13) + (14,15,16) alone give 4 same-text pairs
    # per block; zero-realized-edit or untruncated plants only add to it
    assert by_tier.get("exact", 0) >= (N_CONVS // 20) * 4
    # the 2%-edit plant (18 vs 14/15/16) sits near jaccard ~0.89 -> tier near
    assert by_tier.get("near", 0) > 0
    # every exact-tier pair must have jaccard exactly 1.0
    bad = truth.filter((F.col("tier") == "exact") & (F.col("jaccard") < 1.0))
    assert bad.count() == 0
    truth.unpersist()


def test_recall_gate_on_planted_corpus(spark, tmp_path):
    """End-to-end: exact cascade + all three near-dup legs + CC, measured
    against the data-derived truth — the >=0.99 BASELINE gate."""
    t = generate_transcripts_distributed(spark, N_CONVS)
    docs = assemble_conversations(t).localCheckpoint(eager=True)
    nd = run_pipeline(
        spark, t, DEFAULT_CONFIG, str(tmp_path / "c"), with_groups=False
    )
    truth = ground_truth_tiers(
        docs, planted_pairs(spark, N_CONVS), DEFAULT_CONFIG
    )
    rep = recall_report(truth, nd.near_clusters, nd.near_pairs)
    assert rep["recall_exact_clusters"] == 1.0
    assert rep["recall_clusters"] >= 0.99, rep
    # the verified pair log alone (before transitive closure) also holds
    assert rep["recall_exact_pairs"] == 1.0
    assert rep["recall_near_pairs"] >= 0.99, rep
