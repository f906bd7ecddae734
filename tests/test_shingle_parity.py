"""Differential parity: the readable HOF formulations in
functions/shingles.py (plus ``kgram_hash_sequence`` below, the spec of
``grams``) are the executable SPEC for the codegen'd window-function
formulation that actually runs in the pipeline
(operators/neardup.shingle_features — the HOFs are interpreted
per-element and were the measured non-scaling hot spot). Any divergence
between spec and production formulation fails here."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from fast_duplicate_finder_spark.config import PipelineConfig
from fast_duplicate_finder_spark.corpus import generate_transcripts
from fast_duplicate_finder_spark.functions.shingles import (
    shingle_hashes,
    words,
)
from fast_duplicate_finder_spark.operators.neardup import shingle_features
from fast_duplicate_finder_spark.sources.transcripts import (
    assemble_conversations,
)

CFG = PipelineConfig()


def kgram_hash_sequence(doc: Column, k: int) -> Column:
    """POSITIONAL (non-distinct) k-gram hashes in token order — the spec
    of shingle_features' ``grams``."""
    ws = words(doc)
    n = F.size(ws)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.xxhash64(F.array_join(F.slice(ws, i + 1, k), " ")),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def _docs(spark):
    t = generate_transcripts(spark, n_convs=120, seed=5)
    docs = assemble_conversations(t)
    edge = spark.createDataFrame(
        [("e_empty", ""), ("e_one", "solo"), ("e_two", "two words"),
         ("e_exact_k", "a b c"), ("e_rep", "a a a a a a")],
        "conv_id string, doc string",
    )
    return docs.select("conv_id", "doc").unionByName(edge)


def test_shingle_features_match_hof_spec(spark):
    docs = _docs(spark)
    k = CFG.shingle_k
    spec = docs.select(
        "conv_id",
        F.array_sort(F.array_distinct(shingle_hashes(F.col("doc"), k))).alias(
            "shset_spec"
        ),
        kgram_hash_sequence(F.col("doc"), k).alias("grams_spec"),
    )
    prod = shingle_features(docs, CFG)
    joined = prod.join(spec, "conv_id").collect()
    assert len(joined) == docs.count()
    for r in joined:
        assert r["grams"] == r["grams_spec"], r["conv_id"]
        assert sorted(r["shset"]) == list(r["shset_spec"]), r["conv_id"]
