"""Word shingling column expressions — the readable SPEC.

These higher-order-function (`F.transform`/`F.slice`) formulations are
semantically authoritative but interpreted per-element (HOFs are not
whole-stage-codegen'd) and were the measured non-scaling hot spot of
round 1. The pipeline uses the codegen'd window-function re-expression
operators/neardup.shingle_features; the differential parity test
tests/test_shingle_parity.py pins the two formulations to each other, and
evaluation.py's brute-force ground truth reads ``shingle_hashes``
directly. `words` is shared by both paths. Python (Arrow UDF) remains
reserved for the MinHash/SimHash permutation kernels only (BASELINE.json
input_hint: no per-row Python).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def words(doc: Column) -> Column:
    """Whitespace tokenization matching Python ``str.split()`` (the oracle):
    split on runs of whitespace, no empty tokens."""
    return F.filter(F.split(F.trim(doc), r"\s+"), lambda w: w != "")


def word_shingles(doc: Column, k: int) -> Column:
    """Distinct word k-shingles as strings; docs shorter than k words get a
    single whole-doc shingle (mirrors tests/oracle.py:shingles)."""
    ws = words(doc)
    n = F.size(ws)
    return (
        F.when(
            n >= k,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), n - k),
                    lambda i: F.array_join(F.slice(ws, i + 1, k), " "),
                )
            ),
        )
        .when(n > 0, F.array(F.array_join(ws, " ")))
        .otherwise(F.array().cast("array<string>"))
    )


def shingle_hashes(doc: Column, k: int) -> Column:
    """Distinct 64-bit xxhash64 of each word k-shingle — the base hash set
    fed to MinHash/SimHash kernels and to exact-Jaccard verification.
    Hashing shingle->long before any shuffle shrinks payloads ~10x vs
    shipping shingle strings."""
    return F.transform(word_shingles(doc, k), lambda s: F.xxhash64(s))
