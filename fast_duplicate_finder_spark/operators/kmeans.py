"""Lloyd's k-means and IVF search over an embedding column — pure DataFrame
iteration.

One trainer (``kmeans_fit``), one assigner (``assign_cells``) and one
in-cell search (``in_cell_topk``): ivf_topk and both catalog IVF queries
differ only in how they assign cells, and the catalog's DuckDB oracle
replays the training bit for bit. Same iterative shape as
operators/connected_components.py: Python loop, one shuffle per iteration,
localCheckpoint to truncate lineage.

Design for scale:
* centroids live in a k x dim broadcast (k ~ sqrt(N) for IVF); the
  assignment join is a broadcast nested loop over k rows, never a shuffle
  of the vectors;
* the update step is one groupBy(cell, dim) sum — a single
  map-side-combined shuffle of k x dim longs;
* deterministic: seed centroids are the first k vec_ids, iteration count is
  fixed, ties broken by centroid id, and all arithmetic is integer (below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine

# ---------------------------------------------------------------------------
# Integer fixed point
# ---------------------------------------------------------------------------
#
# Float Lloyd's is deterministic only up to summation order: Spark's partial
# aggregation adds doubles in partition order, so trained centroids (and
# occasionally an assignment on a near-tie) differ in the last ulp between
# engines AND between partitionings of the same data. So vectors are
# quantized to integers and every distance / update stays in BIGINT fixed
# point — associative, order-independent, bit-identical on any engine (the
# DuckDB oracle replicates it verbatim in SQL). ``qv`` is stored already in
# centroid scale, so neither the distance nor the update rescales it:
#
# * qv_i  = round(x_i * Q_SCALE) * M_SCALE       exact per-row, no aggregation
# * dist  = sum((qv_i - m_i)^2)                  BIGINT (fits: |qv|<=6e7,
#                                                squared * 64 dims < 2^63)
# * m_i   = floor(sum(qv_i) / n + 0.5)           one exact-int double division
#
# Quantization error (1e-4 relative) is irrelevant for codebook training;
# tie-breaks (dist, then centroid_id) are exact-integer comparisons.

Q_SCALE = 10_000
M_SCALE = 1024


def quantize_vectors(vectors: DataFrame) -> DataFrame:
    """(vec_id, embedding, qv) — the vectors beside their BIGINT
    fixed-point copies in centroid (M_SCALE) scale."""
    return vectors.select(
        "vec_id",
        "embedding",
        F.transform(
            F.col("embedding"),
            lambda x: F.round(x.cast("double") * Q_SCALE).cast("long")
            * M_SCALE,
        ).alias("qv"),
    )


def _int_dist(qv, m):
    return F.aggregate(
        F.zip_with(qv, m, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def assign_cells(
    qvecs: DataFrame, centroids: DataFrame, nprobe: int = 1
) -> DataFrame:
    """``qvecs``' columns plus ``cell`` — the ``nprobe`` nearest centroids
    by exact integer squared L2 (one output row each; ties to the lowest
    centroid_id). ``qvecs`` is quantize_vectors output; centroids:
    (centroid_id, m). ``nprobe=1`` is the storage assignment (a vector
    lives in exactly one cell); ``nprobe>1`` is the QUERY-side recall knob
    — probing the nearest cells recovers true neighbors that fell just
    across a Voronoi boundary."""
    scored = qvecs.crossJoin(F.broadcast(centroids)).withColumn(
        "_d", _int_dist(F.col("qv"), F.col("m"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("_d"), F.asc("centroid_id"))
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= nprobe)
        .select(*qvecs.columns, F.col("centroid_id").alias("cell"))
    )


def kmeans_fit(vectors: DataFrame, k: int = 8, n_iter: int = 3) -> DataFrame:
    """Train a k-centroid codebook; returns (centroid_id, m) with m in
    M_SCALE fixed point.

    Seeds = the k lowest ids (deterministic). Empty clusters keep their
    previous centroid (standard Lloyd's fallback).
    """
    v = quantize_vectors(vectors)
    seeds = (
        v.orderBy("vec_id")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias(
                "centroid_id"
            ),
            F.col("qv").alias("m"),
        )
        .localCheckpoint(eager=True)
    )
    if not seeds.take(1):
        raise ValueError("kmeans_fit: empty input")
    centroids = seeds
    for _ in range(n_iter):
        assigned = assign_cells(v, centroids)
        sums = (
            assigned.select("cell", F.posexplode("qv").alias("j", "x"))
            .groupBy("cell", "j")
            .agg(F.sum("x").alias("s"), F.count("*").alias("n"))
        )
        upd = (
            sums.withColumn(
                "mj",
                F.floor(F.col("s").cast("double") / F.col("n") + 0.5).cast(
                    "long"
                ),
            )
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("j", "mj"))),
                    lambda st: st.getField("mj"),
                ).alias("m_new")
            )
            .select(F.col("cell").alias("centroid_id"), "m_new")
        )
        # empty clusters: fall back to the previous centroid
        centroids = (
            centroids.alias("old")
            .join(upd.alias("new"), "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce(F.col("new.m_new"), F.col("old.m")).alias("m"),
            )
            .localCheckpoint(eager=True)
        )
    return centroids


def in_cell_topk(
    queries: DataFrame, candidates: DataFrame, topk: int
) -> DataFrame:
    """The IVF in-cell search: each query's top-``topk`` neighbors by exact
    cosine among the candidates sharing one of its cells (ties to the
    lowest neighbor id). Both sides are (vec_id, embedding, cell); the
    caller owns the cell assignment. Returns (vec_id, rank, neighbor_id,
    cos) with cos rounded to 6 places."""
    q = queries.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb"), "cell"
    )
    cand = candidates.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("nemb"), "cell"
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        q.join(cand, "cell")
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("cos", cosine(F.col("qemb"), F.col("nemb")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("rank").cast("long").alias("rank"),
            F.col("nid").alias("neighbor_id"),
            F.round("cos", 6).alias("cos"),
        )
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    topk: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """IVF search with a trained codebook (kmeans_fit output): quantize and
    assign both sides to cells, search within the query's ``nprobe``
    nearest cells by exact cosine of the float vectors. Returns (vec_id,
    rank, neighbor_id, cos). The 100 TB layout writes
    `assign_cells(vectors)` partitioned by cell once (always nprobe=1 —
    each candidate lives in exactly one cell, so probing q-side cells
    never double-counts a candidate), then each query touches
    ~nprobe*N/k candidates. scripts/ann_recall_probe.py measures the
    recall@k-vs-cost curve per nprobe."""
    return in_cell_topk(
        assign_cells(quantize_vectors(queries), centroids, nprobe),
        assign_cells(quantize_vectors(vectors), centroids),
        topk,
    )
