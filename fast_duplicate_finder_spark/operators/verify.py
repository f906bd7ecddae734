"""Candidate-pair verification.

LSH/fingerprint collisions are *candidates*; duplicates are only claimed
after an exact check (the cascade principle: phase N prunes, phase N+1
verifies — run_finder.go:39-76 generalized):

* Jaccard — exact set similarity on the JVM via array_intersect over the
  64-bit shingle-hash sets (no strings shuffled, no Python);
* shared span — longest common contiguous k-gram run via an Arrow-batched
  ``mapInPandas`` kernel (difflib C matcher per pair; pairs are already a
  tiny fraction of the corpus by this stage).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fast_duplicate_finder_spark.config import PipelineConfig


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
    pairs: DataFrame, shingle_sets: DataFrame, tau: float,
    set_col: str = "shset"
) -> DataFrame:
    """Exact Jaccard on shingle-hash sets; keep pairs >= tau.
    Returns (conv_id_a, conv_id_b, jaccard)."""
    joined = attach_pair_payload(pairs, shingle_sets, set_col)
    return (
        joined.withColumn("jaccard", _jaccard(f"{set_col}_a", f"{set_col}_b"))
        .filter(F.col("jaccard") >= tau)
        .select("conv_id_a", "conv_id_b", "jaccard")
    )


def verify_shared_span(
    pairs_with_grams: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Exact longest shared token span on candidate pairs.

    Input: (conv_id_a, conv_id_b, grams_a, grams_b) — positional k-gram
    hash sequences. A common contiguous run of g k-grams == a shared span
    of g + k - 1 tokens. Returns pairs with span_tokens >= span_min_tokens.
    """
    k = cfg.shingle_k
    min_tokens = cfg.span_min_tokens

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from difflib import SequenceMatcher

        for pdf in batches:
            spans = []
            for ga, gb in zip(pdf["grams_a"], pdf["grams_b"]):
                la = [int(x) for x in ga] if ga is not None else []
                lb = [int(x) for x in gb] if gb is not None else []
                if not la or not lb:
                    spans.append(0)
                    continue
                m = SequenceMatcher(None, la, lb, autojunk=False)
                match = m.find_longest_match(0, len(la), 0, len(lb))
                spans.append(match.size + k - 1 if match.size > 0 else 0)
            out = pdf[["conv_id_a", "conv_id_b"]].copy()
            out["span_tokens"] = spans
            yield out[out["span_tokens"] >= min_tokens]

    return pairs_with_grams.mapInPandas(
        kernel, "conv_id_a string, conv_id_b string, span_tokens int"
    )
