"""Candidate-pair verification.

LSH collisions are *candidates*; duplicates are only claimed after an
exact check (the cascade principle: phase N prunes, phase N+1 verifies —
run_finder.go:39-76 generalized): exact Jaccard on the JVM via
array_intersect over the 64-bit shingle-hash sets (no strings shuffled, no
Python). The simhash and span legs need no verify step here: simhash
checks its popcount inline on the emitted pairs, and a shared anchored
supershingle IS a shared span (operators/neardup.span_pairs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def attach_pair_payload(
    pairs: DataFrame, payload: DataFrame, col: str
) -> DataFrame:
    """Join (conv_id_a, conv_id_b) with payload (conv_id, <col>) twice ->
    adds <col>_a / <col>_b."""
    pa = payload.select(
        F.col("conv_id").alias("conv_id_a"), F.col(col).alias(f"{col}_a")
    )
    pb = payload.select(
        F.col("conv_id").alias("conv_id_b"), F.col(col).alias(f"{col}_b")
    )
    return pairs.join(pa, "conv_id_a").join(pb, "conv_id_b")


def _jaccard(set_a: str, set_b: str) -> Column:
    """Exact Jaccard of two shingle-hash set columns (1.0 when both are
    empty)."""
    inter = F.size(F.array_intersect(set_a, set_b))
    union = F.size(set_a) + F.size(set_b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(1.0))


def verify_jaccard(
    pairs: DataFrame, shingle_sets: DataFrame, tau: float
) -> DataFrame:
    """Exact Jaccard on (conv_id, shset) shingle-hash sets; keep pairs
    >= tau. Returns (conv_id_a, conv_id_b, jaccard)."""
    joined = attach_pair_payload(pairs, shingle_sets, "shset")
    return (
        joined.withColumn("jaccard", _jaccard("shset_a", "shset_b"))
        .filter(F.col("jaccard") >= tau)
        .select("conv_id_a", "conv_id_b", "jaccard")
    )
