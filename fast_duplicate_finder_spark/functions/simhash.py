"""SimHash kernel — Arrow-vectorized pandas UDF.

64-bit SimHash (Charikar 2002 / Manku et al. WWW 2007) over the same
shingle-hash sets as MinHash: each shingle votes +-1 per bit position; the
signature bit is the vote sign. Near-exact fuzz matches (whitespace /
punctuation-level perturbations) land within a small Hamming distance.

Candidate generation uses the pigeonhole split: with max Hamming distance h,
split the 64-bit signature into h+1 chunks — any pair within distance h
agrees on at least one whole chunk -> equi-join on (chunk_id, chunk_value),
then verify exact Hamming via popcount(XOR) JVM-side (bit_count).

Batch-vectorized: one unpack of all shingle hashes to a bit matrix, one
``np.add.reduceat`` per batch — no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


_ROW_CHUNK = 512  # bounds the (M,64) bit matrix: peak ~= chunk * avg_set *
                  # 64 * 12B per worker — without chunking a 10k-row Arrow
                  # batch allocates ~400 MB transient PER WORKER, and 32
                  # local workers together thrash the page cache


def _simhash_rows(safe: list[np.ndarray], lens: np.ndarray) -> np.ndarray:
    flat = np.concatenate(safe)
    starts = np.zeros(len(safe), dtype=np.int64)
    np.cumsum([len(s) for s in safe[:-1]], out=starts[1:])
    shifts = np.arange(64, dtype=np.uint64)
    bits = ((flat[:, None] >> shifts) & np.uint64(1)).astype(np.int32)  # (M,64)
    ones = np.add.reduceat(bits, starts, axis=0)                         # (R,64)
    m = np.maximum(lens, 1)[:, None]
    sig_bits = (2 * ones) > m                                            # vote sign
    packed = (sig_bits.astype(np.uint64) << shifts).sum(axis=1, dtype=np.uint64)
    return np.where(lens > 0, packed, np.uint64(0))


def simhash_batch(hash_lists: pd.Series) -> pd.Series:
    lens = np.fromiter((len(h) if h is not None else 0 for h in hash_lists),
                       dtype=np.int64, count=len(hash_lists))
    safe = [
        np.asarray(h, dtype=np.int64).view(np.uint64)
        if h is not None and len(h) else np.array([np.uint64(0)])
        for h in hash_lists
    ]
    out = np.empty(len(safe), dtype=np.uint64)
    for i in range(0, len(safe), _ROW_CHUNK):
        j = min(i + _ROW_CHUNK, len(safe))
        out[i:j] = _simhash_rows(safe[i:j], lens[i:j])
    return pd.Series(out.view(np.int64))


@F.pandas_udf(T.LongType())
def simhash_udf(hash_lists: pd.Series) -> pd.Series:
    with np.errstate(over="ignore"):
        return simhash_batch(hash_lists)


def simhash_chunks(sim: Column, n_chunks: int) -> Column:
    """Split a 64-bit simhash into n equal bit chunks (pigeonhole keys)."""
    width = 64 // n_chunks
    mask = (1 << width) - 1
    return F.array(
        *[
            F.shiftrightunsigned(sim, i * width).bitwiseAND(F.lit(mask))
            for i in range(n_chunks)
        ]
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_candidate_pairs(
    sims: DataFrame, max_hamming: int, max_bucket: int = 2000,
    n_salt: int = 8, even_exchange: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """(conv_id, simhash) pairs within ``max_hamming`` bits — pigeonhole
    equi-join + exact popcount verification.

    Skew control is the SAME generator as every other leg
    (operators/lsh.capped_pairs): buckets over ``max_bucket`` excluded +
    COUNTED, hot-yet-under-cap buckets split across ``n_salt`` tasks via
    two-level salted pair generation — skewed bit patterns over 16-bit
    chunks are common in boilerplate-heavy corpora, and a plain
    self-join would put a 1,999-member chunk bucket (~2M join rows) on
    one reducer. The 8-byte signatures ride through the generator as
    ``payload_cols`` and the popcount verify runs inline on the emitted
    pairs: attaching them afterwards with two joins against the
    id->signature table (the wide-payload verify_jaccard pattern)
    measured 3.4x slower at 5.2M turns on local[8] (3.05 s vs 10.47 s,
    identical 215,199 pairs) and 5.6x on the 2-executor ladder — it
    shuffles the full signature table twice per leg to deliver 8
    bytes/row the self-join carries for free.

    Returns ``(pairs, overflow)``:
    * pairs: (conv_id_a, conv_id_b, hamming), a < b, distinct;
    * overflow: (chunk_id, chunk_val, bucket_n) for capped buckets.
    """
    from fast_duplicate_finder_spark.operators.lsh import capped_pairs

    n_chunks = max_hamming + 1
    keyed = sims.select(
        "conv_id",
        F.col("simhash").alias("_sim"),
        F.posexplode(simhash_chunks(F.col("simhash"), n_chunks)).alias(
            "chunk_id", "chunk_val"
        ),
    )
    cand, overflow = capped_pairs(
        keyed, ["chunk_id", "chunk_val"], max_bucket, n_salt,
        payload_cols=["_sim"], even_exchange=even_exchange,
    )
    pairs = (
        cand.select(
            "conv_id_a",
            "conv_id_b",
            hamming64(F.col("_sim_a"), F.col("_sim_b")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs, overflow
