"""Dup-pair recall measurement against the planted-family ground truth.

BASELINE.json's headline metric is "dup-pair recall >= 0.99 vs reference
clusters ... on a synthetic transcript corpus with planted exact/near
duplicates". The reference itself has no test corpus (zero Go tests), so the
ground truth is the corpus generator's planted families — but, per the
fixture philosophy in :mod:`fast_duplicate_finder_spark.corpus`, truth is
derived from the *data*, not from construction: a planted "near duplicate"
whose random edits happen to land below the Jaccard threshold is excluded
from the denominator, and a planted edit pass that realizes zero effective
edits is promoted to the exact tier. Everything here is plain distributed
DataFrame work — the planted-pair frame is O(n_convs * 12 / 20) rows and the
truth computation touches only the 8-of-20 planted conv slots per block, so
the probe itself scales with the corpus.

Ground-truth similarity deliberately uses the HOF *spec* formulation
(:func:`functions.shingles.shingle_hashes`) rather than the production
window-function path (operators/neardup.shingle_features): the two are
independently implemented and differentially pinned against each other, so
the measured recall is not "production code agreeing with itself".

Tiers (per pair, from the realized data, at the probe's config):

* ``exact`` — assembled documents are byte-identical;
* ``near``  — exact Jaccard of word-shingle hash sets >= ``cfg.jaccard_tau``;
* ``below`` — a planted pair whose realized similarity fell under tau
  (excluded from the recall denominator, but counted and reported).

Recall is reported at two granularities:

* ``pair`` — the verified near-pair log (minhash leg + exact star edges)
  contains the pair directly;
* ``cluster`` — both convs land in the same final connected component
  (the north rule's "cluster assignments" criterion; transitive closure may
  recover pairs an individual leg missed, and the simhash/span legs add
  edges of their own).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fast_duplicate_finder_spark.config import PipelineConfig
from fast_duplicate_finder_spark.functions.shingles import shingle_hashes

# Pairs of same-block conv offsets that share a content base in the
# generator's 20-conv block layout (corpus._BLOCK): {12,13,17,19} reuse
# base 12 and {14,15,16,18} reuse base 14. 12 pairs per block.
PLANTED_PAIR_OFFSETS: list[tuple[int, int]] = [
    (12, 13), (12, 17), (12, 19), (13, 17), (13, 19), (17, 19),
    (14, 15), (14, 16), (15, 16), (14, 18), (15, 18), (16, 18),
]

# conv slots per block that participate in any planted pair
_PLANTED_OFFSETS = sorted({o for p in PLANTED_PAIR_OFFSETS for o in p})


def planted_pairs(spark: SparkSession, n_convs: int) -> DataFrame:
    """``(conv_id_a, conv_id_b)`` for every planted same-content-base pair
    of :func:`corpus.generate_transcripts_distributed`. Only complete
    20-conv blocks are enumerated — a trailing partial block plants no
    complete families.
    """
    n_blocks = n_convs // 20
    pair_lits = F.array(
        *[
            F.struct(F.lit(a).alias("oa"), F.lit(b).alias("ob"))
            for a, b in PLANTED_PAIR_OFFSETS
        ]
    )

    def cid(off: F.Column) -> F.Column:
        i = F.col("id") * 20 + off
        return F.concat(F.lit("conv"), F.lpad(i.cast("string"), 9, "0"))

    return (
        spark.range(n_blocks)
        .select(F.col("id"), F.explode(pair_lits).alias("p"))
        .select(
            cid(F.col("p.oa")).alias("conv_id_a"),
            cid(F.col("p.ob")).alias("conv_id_b"),
        )
    )


def ground_truth_tiers(
    docs: DataFrame, planted: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Classify each planted pair from the realized data.

    ``docs`` is the assembled-conversation frame ``(conv_id, doc, ...)``.
    Returns ``(conv_id_a, conv_id_b, tier, jaccard)`` where ``jaccard`` is
    the exact set Jaccard of word-shingle hashes (spec formulation).
    """
    planted_ids = (
        planted.select(F.col("conv_id_a").alias("conv_id"))
        .union(planted.select("conv_id_b"))
        .distinct()
    )
    feats = (
        docs.join(planted_ids, "conv_id", "left_semi")
        .select(
            "conv_id",
            F.col("doc"),
            shingle_hashes(F.col("doc"), cfg.shingle_k).alias("shset"),
        )
    )
    a = feats.select(
        F.col("conv_id").alias("conv_id_a"),
        F.col("doc").alias("doc_a"),
        F.col("shset").alias("shset_a"),
    )
    b = feats.select(
        F.col("conv_id").alias("conv_id_b"),
        F.col("doc").alias("doc_b"),
        F.col("shset").alias("shset_b"),
    )
    # LEFT joins: a planted conv absent from ``docs`` is a lost input and
    # must surface as tier 'missing' (failing the gate), not silently
    # shrink the recall denominator the way an inner join would.
    joined = planted.join(a, "conv_id_a", "left").join(b, "conv_id_b", "left")
    inter = F.size(F.array_intersect("shset_a", "shset_b"))
    union = F.size("shset_a") + F.size("shset_b") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(1.0))
    return joined.select(
        "conv_id_a",
        "conv_id_b",
        F.when(
            F.col("doc_a").isNull() | F.col("doc_b").isNull(), F.lit("missing")
        )
        .when(F.col("doc_a") == F.col("doc_b"), F.lit("exact"))
        .when(jac >= F.lit(cfg.jaccard_tau), F.lit("near"))
        .otherwise(F.lit("below"))
        .alias("tier"),
        jac.alias("jaccard"),
    )


def _canonical(pairs: DataFrame) -> DataFrame:
    return pairs.select(
        F.least("conv_id_a", "conv_id_b").alias("conv_id_a"),
        F.greatest("conv_id_a", "conv_id_b").alias("conv_id_b"),
    ).distinct()


def recall_report(
    truth: DataFrame,
    clusters: DataFrame,
    near_pairs: DataFrame | None = None,
) -> dict:
    """Single-action recall summary.

    ``clusters`` is ``(conv_id, component)`` from connected components;
    ``near_pairs`` is the pipeline's pair log ``(conv_id_a, conv_id_b, ...)``
    (any extra columns ignored). The returned dict carries, per tier,
    the planted-pair count and the cluster-level hit count, plus pair-level
    hits over the dup tiers when ``near_pairs`` is given. One aggregation
    job computes everything — the probe adds no per-pair driver loop.
    """
    t = truth.select(
        F.least("conv_id_a", "conv_id_b").alias("conv_id_a"),
        F.greatest("conv_id_a", "conv_id_b").alias("conv_id_b"),
        "tier",
        "jaccard",
    )
    ca = clusters.select(
        F.col("conv_id").alias("conv_id_a"), F.col("component").alias("comp_a")
    )
    cb = clusters.select(
        F.col("conv_id").alias("conv_id_b"), F.col("component").alias("comp_b")
    )
    t = (
        t.join(ca, "conv_id_a", "left")
        .join(cb, "conv_id_b", "left")
        .withColumn(
            "in_cluster",
            F.col("comp_a").isNotNull() & (F.col("comp_a") == F.col("comp_b")),
        )
    )
    if near_pairs is not None:
        found = _canonical(near_pairs).withColumn("in_pairs", F.lit(True))
        t = t.join(found, ["conv_id_a", "conv_id_b"], "left").fillna(
            {"in_pairs": False}
        )
    else:
        t = t.withColumn("in_pairs", F.lit(False))

    rows = (
        t.groupBy("tier")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("in_cluster").cast("long")).alias("n_cluster"),
            F.sum(F.col("in_pairs").cast("long")).alias("n_pairs"),
            F.min("jaccard").alias("min_jaccard"),
        )
        .collect()
    )
    by_tier = {r["tier"]: r.asDict() for r in rows}
    out: dict = {"tiers": by_tier}
    for tier in ("exact", "near"):
        d = by_tier.get(tier, {"n": 0, "n_cluster": 0, "n_pairs": 0})
        if d["n"]:
            out[f"recall_{tier}_clusters"] = d["n_cluster"] / d["n"]
            out[f"recall_{tier}_pairs"] = d["n_pairs"] / d["n"]
    n_dup = sum(by_tier.get(t_, {}).get("n", 0) for t_ in ("exact", "near"))
    n_hit = sum(
        by_tier.get(t_, {}).get("n_cluster", 0) for t_ in ("exact", "near")
    )
    if n_dup:
        out["recall_clusters"] = n_hit / n_dup
        out["n_dup_pairs"] = n_dup
    out["n_below_tau_excluded"] = by_tier.get("below", {}).get("n", 0)
    # pairs whose conv(s) never reached the docs frame: input loss, not a
    # similarity judgement — any nonzero count fails the gate
    out["n_missing_input_pairs"] = by_tier.get("missing", {}).get("n", 0)
    return out
