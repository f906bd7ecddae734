from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from fast_duplicate_finder_spark.config import PipelineConfig
from fast_duplicate_finder_spark.corpus import generate_transcripts
from fast_duplicate_finder_spark.functions.minhash import (
    minhash_batch,
    perm_seeds,
)
from fast_duplicate_finder_spark.functions.shingles import word_shingles
from fast_duplicate_finder_spark.operators.neardup import (
    near_dup_features,
    simhash_pairs,
    span_pairs,
)
from fast_duplicate_finder_spark.plans.pipeline import run_pipeline

from tests.oracle import (
    assemble_locally,
    jaccard,
    near_pairs_oracle,
    shingles,
)

CFG = PipelineConfig()


def test_word_shingles_match_oracle(spark):
    docs = [
        "a b c d e",
        "single",
        "",
        "x  y\nz w",  # multi-whitespace + newline separators
        "a a a a",
    ]
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "i int, doc string")
    got = df.select("i", word_shingles(F.col("doc"), 3).alias("sh")).collect()
    for r in got:
        assert set(r["sh"]) == shingles(docs[r["i"]], 3), docs[r["i"]]


def test_minhash_estimates_jaccard():
    rng = np.random.RandomState(7)
    seeds = perm_seeds(256, 42)
    base = set(rng.randint(0, 2**62, size=400).tolist())
    drop = set(list(base)[:100])
    other = (base - drop) | set(rng.randint(0, 2**62, size=100).tolist())
    true_j = len(base & other) / len(base | other)
    with np.errstate(over="ignore"):
        sigs = minhash_batch(pd.Series([list(base), list(other)]), seeds)
    # estimated Jaccard: the fraction of signature positions that agree
    est = float((np.asarray(sigs[0]) == np.asarray(sigs[1])).mean())
    assert abs(est - true_j) < 0.08
    # identical sets -> identical signatures
    with np.errstate(over="ignore"):
        s2 = minhash_batch(pd.Series([list(base), list(base)]), seeds)
    assert list(s2[0]) == list(s2[1])


def test_near_dup_recall_and_precision_vs_bruteforce(spark, tmp_path):
    df = generate_transcripts(spark, n_convs=300, seed=42)
    rows = df.collect()
    local_docs = assemble_locally([tuple(r) for r in rows])
    oracle = near_pairs_oracle(local_docs, CFG.jaccard_tau, CFG.shingle_k)

    rep = run_pipeline(spark, df, CFG, str(tmp_path / "c"), with_groups=False)
    mh = {
        (r["conv_id_a"], r["conv_id_b"])
        for r in rep.near_pairs.filter("kind = 'minhash'").collect()
    }
    # precision is 1.0 by construction (exact Jaccard verify)
    for a, b in mh:
        assert jaccard(shingles(local_docs[a], CFG.shingle_k),
                       shingles(local_docs[b], CFG.shingle_k)) >= CFG.jaccard_tau
    # recall >= 0.99 (BASELINE.md gate) — here exact, tiny corpus
    missed = oracle - mh
    recall = 1 - len(missed) / max(len(oracle), 1)
    assert recall >= 0.99, f"missed {sorted(missed)[:5]} of {len(oracle)}"

    # clusters: every oracle pair ends up in the same component
    comp = {r["conv_id"]: r["component"] for r in rep.near_clusters.collect()}
    for a, b in oracle:
        assert comp.get(a) is not None and comp[a] == comp.get(b)


def test_simhash_catches_tiny_perturbations(spark):
    base = " ".join(f"tok{i}" for i in range(300))
    fuzz = base.replace("tok150", "tok150x")  # one-token change
    far = " ".join(f"other{i}" for i in range(300))
    df = spark.createDataFrame(
        [("p1", base), ("p2", fuzz), ("q1", far)], "conv_id string, doc string"
    )
    pairs, _ = simhash_pairs(near_dup_features(df, CFG), CFG)
    sh = {
        tuple(sorted((r["conv_id_a"], r["conv_id_b"])))
        for r in pairs.collect()
    }
    assert ("p1", "p2") in sh
    assert ("p1", "q1") not in sh and ("p2", "q1") not in sh


def test_span_pass_detects_long_shared_span(spark):
    span = " ".join(f"shared{i}" for i in range(60))  # 60 >= span_min_tokens
    a = "intro words here " + span + " " + " ".join(f"a{i}" for i in range(200))
    b = " ".join(f"b{i}" for i in range(200)) + " " + span + " tail"
    short_span = " ".join(f"s{i}" for i in range(10))
    c = "c start " + short_span + " " + " ".join(f"c{i}" for i in range(200))
    d = "d start " + short_span + " " + " ".join(f"d{i}" for i in range(200))
    df = spark.createDataFrame(
        [("a", a), ("b", b), ("c", c), ("d", d)], "conv_id string, doc string"
    )
    pairs, _ = span_pairs(near_dup_features(df, CFG), CFG)
    sp = {
        tuple(sorted((r["conv_id_a"], r["conv_id_b"])))
        for r in pairs.collect()
    }
    assert ("a", "b") in sp
    assert ("c", "d") not in sp


def test_supershingle_set_short_docs_empty(spark):
    """sequence(0, size - window) DESCENDS when size < window — the guard
    must yield an empty set, not inverted-index supershingles."""
    from pyspark.sql import functions as F

    from fast_duplicate_finder_spark.operators.neardup import (
        _supershingle_set,
    )

    df = spark.createDataFrame(
        [(1, list(range(5))), (2, list(range(8))), (3, []), (4, list(range(9)))],
        "conv_id int, grams array<bigint>",
    )
    out = {
        r["conv_id"]: r["n"]
        for r in df.select(
            "conv_id", F.size(_supershingle_set(F.col("grams"), 8)).alias("n")
        ).collect()
    }
    # size < window -> 0; size == window -> 1; size == window+1 -> 2
    assert out == {1: 0, 2: 1, 3: 0, 4: 2}
