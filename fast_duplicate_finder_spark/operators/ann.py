"""Multi-table random-hyperplane LSH over embedding columns.

The catalog's single-table query (queries.q_embedding_ann_lsh) runs
``rhp_ann_pairs`` with one table of 16 planes. It is exact for *identical*
vectors — they share every bucket — but a single 16-plane table recalls
only ~8% of cosine-0.9 neighbors
(P[collide] = (1 - theta/pi)^16, theta = acos(0.9)). The production knob
for near-neighbor recall is the classic (n_tables, n_planes) trade:
a pair colliding in ANY of L tables is a candidate, so

    P[candidate] = 1 - (1 - (1 - theta/pi)^n_planes)^n_tables

e.g. 8 tables x 8 planes gives 0.988 at cos 0.95 and 0.935 at cos 0.90
at a random-pair (theta ~ pi/2) candidate rate of ~3e-2; doubling to 16
planes per table cuts random pairs to ~1.2e-4 while 16 tables hold 0.96
at cos 0.95 (the probe's measured sweet spot on the planted corpus).
scripts/ann_recall_probe.py measures the realized recall per setting
against the brute-force oracle on a planted-band corpus.

Scale design (same discipline as the text LSH in operators/lsh.py):

* the tables are NOT L separate self-joins: bucket rows explode to
  (vec_id, t, bucket) and candidate generation is ONE equi self-join on
  (t, bucket) — one shuffle regardless of table count;
* pair generation goes through lsh.capped_pairs, so hot buckets (a
  degenerate plane split over clustered data) are capped + COUNTED and
  hot-yet-under-cap buckets split across salt cells — never one reducer;
* candidates collide in many tables; capped_pairs dedupes BEFORE the
  cosine verify, and embeddings (the wide payload) are re-attached to the
  surviving pairs via verify.attach_pair_payload rather than riding the
  replicated join sides;
* buckets are packed sign bits (one BIGINT), not strings — the join key
  stays fixed-width.

Reference parity: the reference engine has no vector search at all; this
is part of the repo's LLM-training-data surface (SURVEY §2 additions).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fast_duplicate_finder_spark.functions.vectors import cosine
from fast_duplicate_finder_spark.operators.lsh import capped_pairs
from fast_duplicate_finder_spark.operators.verify import attach_pair_payload


def rhp_planes(
    n_tables: int, n_planes: int, dim: int, seed: int = 1234
) -> list[list[list[float]]]:
    """Deterministic Rademacher (+-1) hyperplanes, [table][plane][dim].

    +-1 components are distribution-equivalent to gaussian planes for the
    sign test and keep the DuckDB oracle exact: the dot product is a sum
    of +-x_i terms, bit-identical in any engine that sums left-to-right
    in double.
    """
    rng = random.Random(seed)
    return [
        [[rng.choice((-1.0, 1.0)) for _ in range(dim)] for _ in range(n_planes)]
        for _ in range(n_tables)
    ]


def _dot_lit(vec_col, plane: list[float]):
    return F.aggregate(
        F.zip_with(
            vec_col,
            F.array(*[F.lit(p) for p in plane]),
            lambda x, y: x.cast("double") * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def rhp_bucket_rows(
    vectors: DataFrame, planes: list[list[list[float]]]
) -> DataFrame:
    """(conv_id, t, bucket) — one row per (vector, table); bucket packs the
    table's plane signs into one BIGINT. Column is named ``conv_id`` for
    direct reuse of lsh.capped_pairs (name, not type, is its contract)."""
    buckets = []
    for table in planes:
        b = F.lit(0).cast("long")
        for i, plane in enumerate(table):
            hit = _dot_lit(F.col("embedding"), plane) > 0
            b = b + hit.cast("long") * F.lit(1 << i)
        buckets.append(b)
    # Per-row dim guard: a vector shorter/longer than the planes would
    # zip_with to a null dot -> null bucket, never equi-join, and silently
    # appear in zero pairs. raise_error fails the JOB on the first such row
    # instead — a length compare per row, no extra pass (rhp_ann_pairs'
    # take(1) check catches the all-rows-wrong case before any job runs).
    dim = len(planes[0][0])
    guarded = F.when(
        F.size("embedding") == dim, F.array(*buckets)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"rhp_bucket_rows: expected {dim}-element vectors, got "),
                F.size("embedding").cast("string"),
                F.lit(" for id "),
                F.col("vec_id").cast("string"),
            )
        )
    )
    return vectors.select(
        F.col("vec_id").alias("conv_id"),
        F.posexplode(guarded).alias("t", "bucket"),
    )


def rhp_ann_pairs(
    vectors: DataFrame,
    n_tables: int = 8,
    n_planes: int = 8,
    min_cos: float = 0.9,
    dim: int = 64,
    max_bucket: int = 2000,
    n_salt: int = 8,
    seed: int = 1234,
) -> tuple[DataFrame, DataFrame]:
    """Near-neighbor pairs by multi-table RHP-LSH + exact cosine verify.

    Returns ``((vec_id_a, vec_id_b, cos), overflow)`` with ``a < b`` and
    ``cos >= min_cos`` exact (every emitted pair is verified — the table
    setting trades only *recall*, never precision). ``overflow`` is
    capped_pairs' (t, bucket, bucket_n) metrics frame.
    """
    # Fail fast on a dim mismatch BEFORE launching any real job (same
    # take(1)-validation idiom as kmeans_fit) — catches the common
    # whole-corpus mistake cheaply; rhp_bucket_rows' per-row raise_error
    # covers the minority-of-rows case (corrupt writer) mid-job.
    first = vectors.select(F.size("embedding").alias("d")).first()
    if first is not None and first["d"] != dim:
        raise ValueError(
            f"rhp_ann_pairs: dim={dim} but 'embedding' has "
            f"{first['d']} elements"
        )
    planes = rhp_planes(n_tables, n_planes, dim, seed)
    rows = rhp_bucket_rows(vectors, planes)
    cand, overflow = capped_pairs(rows, ["t", "bucket"], max_bucket, n_salt)
    emb = vectors.select(F.col("vec_id").alias("conv_id"), "embedding")
    verified = (
        attach_pair_payload(cand, emb, "embedding")
        .withColumn("cos", cosine(F.col("embedding_a"), F.col("embedding_b")))
        .filter(F.col("cos") >= min_cos)
        .select(
            F.col("conv_id_a").alias("vec_id_a"),
            F.col("conv_id_b").alias("vec_id_b"),
            "cos",
        )
    )
    return verified, overflow
