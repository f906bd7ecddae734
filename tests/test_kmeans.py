"""k-means codebook + trained IVF: determinism, coverage, and recall vs
brute-force cosine top-k."""

from __future__ import annotations

from pyspark.sql import functions as F

from fast_duplicate_finder_spark.operators.kmeans import (
    assign_cells,
    ivf_topk,
    kmeans_fit,
    quantize_vectors,
)

SF = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def test_kmeans_is_deterministic_and_covers(spark):
    e = _emb(spark)
    c1 = {r["centroid_id"]: r["m"] for r in kmeans_fit(e, k=8, n_iter=3).collect()}
    c2 = {r["centroid_id"]: r["m"] for r in kmeans_fit(e, k=8, n_iter=3).collect()}
    assert set(c1) == set(range(8))
    for k in c1:
        assert c1[k] == c2[k], f"centroid {k} not deterministic"
    cells = assign_cells(quantize_vectors(e), kmeans_fit(e, k=8, n_iter=3))
    assert cells.count() == e.count()  # every vector assigned exactly once
    assert cells.select("vec_id").distinct().count() == e.count()


def test_kmeans_improves_over_seed_centroids(spark):
    """3 Lloyd iterations must not increase total within-cluster distance
    vs the raw seed assignment."""
    from fast_duplicate_finder_spark.operators.kmeans import _int_dist

    e = _emb(spark)
    seeds = kmeans_fit(e, k=8, n_iter=0)
    trained = kmeans_fit(e, k=8, n_iter=3)

    def cost(cents):
        a = assign_cells(quantize_vectors(e), cents)
        joined = a.join(
            cents.select(F.col("centroid_id").alias("cell"), "m"), "cell"
        )
        return joined.select(
            _int_dist(F.col("qv"), F.col("m")).alias("d")
        ).agg(F.sum("d")).collect()[0][0]

    assert cost(trained) <= cost(seeds)


def test_trained_ivf_recall_vs_bruteforce(spark):
    """In-cell top-3 after training recovers most of the true cosine top-3
    (cells are coherent after Lloyd's; exact recall isn't guaranteed —
    pin a floor)."""
    e = _emb(spark)
    cents = kmeans_fit(e, k=8, n_iter=3)
    q = e.filter(F.col("vec_id") < 20)
    got = {
        (r["vec_id"], r["neighbor_id"])
        for r in ivf_topk(e, q, cents, topk=3).collect()
    }
    from fast_duplicate_finder_spark.trainingdata import _cosine

    a = q.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    b = e.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("ne"))
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    truth = {
        (r["qid"], r["nid"])
        for r in a.crossJoin(b)
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("cos", _cosine(F.col("qe"), F.col("ne")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.5, f"trained-IVF recall {recall:.2f} vs brute force"
