#!/usr/bin/env python
"""ANN recall at scale vs the brute-force oracle — round-5 item #4.

Corpus: corpus.generate_embeddings_distributed at >=100k base vectors —
unit gaussians with planted neighbors at EXACT cosine bands
(0.999/0.97/0.95/0.90/0.85, one per 2*len(bands) base ids). Two searchers:

* multi-table RHP-LSH (operators/ann.rhp_ann_pairs) across (tables, planes)
  settings — measured per-band recall is reported NEXT TO the closed-form
  theory 1-(1-(1-acos(c)/pi)^planes)^tables, so the implementation is
  checked against the math it claims to implement;
* trained-codebook IVF (operators/kmeans.kmeans_fit, the integer-exact
  Lloyd's trainer, + ivf_topk) across nprobe — planted-partner recall per
  band (true near neighbors) plus brute-force top-5 recall on a query
  sample (the uniform-tail curve, reported not gated: IVF prunes poorly on
  structureless data by design).

    python scripts/ann_recall_probe.py --n-base 100000

Writes BENCH/ann_recall_r5.json. The recorded file was measured with the
float Lloyd's trainer that the integer-exact one replaced, so its IVF
figures are not a baseline for the current trainer. The pytest gate at
small scale is tests/test_ann.py (same generator, same operators, fixed
settings).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def lsh_theory(c: float, n_planes: int, n_tables: int) -> float:
    p_plane = 1.0 - math.acos(c) / math.pi
    return 1.0 - (1.0 - p_plane**n_planes) ** n_tables


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-base", type=int, default=100_000)
    ap.add_argument("--master", default="local[32]")
    ap.add_argument("--shuffle-partitions", type=int, default=64)
    ap.add_argument("--lsh-configs", default="4x16,8x16,16x16,8x12",
                    help="comma list of TABLESxPLANES")
    ap.add_argument("--ivf-k", type=int, default=256)
    ap.add_argument("--ivf-iters", type=int, default=3)
    ap.add_argument("--nprobes", default="1,2,4,8")
    ap.add_argument("--partner-queries", type=int, default=5000,
                    help="planted bases used for IVF partner recall")
    ap.add_argument("--brute-queries", type=int, default=500,
                    help="queries for the brute-force top-5 curve")
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH",
                                                  "ann_recall_r5.json"))
    args = ap.parse_args()

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from fast_duplicate_finder_spark.corpus import (
        EMB_BANDS,
        generate_embeddings_distributed,
        planted_neighbors,
    )
    from fast_duplicate_finder_spark.functions.vectors import cosine
    from fast_duplicate_finder_spark.operators.ann import rhp_ann_pairs
    from fast_duplicate_finder_spark.operators.kmeans import (
        ivf_topk,
        kmeans_fit,
    )
    from fast_duplicate_finder_spark.session import get_spark

    spark = get_spark(
        "fdf-ann-recall-probe",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    emb = generate_embeddings_distributed(spark, args.n_base).localCheckpoint(
        eager=True
    )
    planted = planted_neighbors(spark, args.n_base).localCheckpoint(eager=True)
    n_vecs = emb.count()
    n_planted = planted.count()
    out: dict = {
        "n_base": args.n_base,
        "n_vectors": n_vecs,
        "n_planted_pairs": n_planted,
        "bands": list(EMB_BANDS),
        "master": args.master,
        "lsh": [],
        "ivf": {},
    }

    min_cos = min(EMB_BANDS) - 0.01
    for cfg in args.lsh_configs.split(","):
        n_tables, n_planes = (int(x) for x in cfg.strip().split("x"))
        t0 = time.perf_counter()
        pairs, overflow = rhp_ann_pairs(
            emb,
            n_tables=n_tables,
            n_planes=n_planes,
            min_cos=min_cos,
            max_bucket=20_000,
            n_salt=8,
        )
        # materialize ONCE inside the timed window: the recall join and the
        # count below would otherwise each re-execute the verify join,
        # recording ~2x the cost of one search in wall_sec
        pairs = pairs.localCheckpoint(eager=True)
        hit = pairs.select("vec_id_a", "vec_id_b")
        rows = (
            planted.join(
                hit.withColumn("h", F.lit(True)),
                ["vec_id_a", "vec_id_b"],
                "left",
            )
            .groupBy("band")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("h").isNotNull().cast("long")).alias("n_hit"),
            )
            .collect()
        )
        n_pairs = pairs.count()
        n_over = overflow.count()
        wall = time.perf_counter() - t0
        rec = {
            "n_tables": n_tables,
            "n_planes": n_planes,
            "recall_by_band": {
                str(round(r["band"], 3)): round(r["n_hit"] / r["n"], 4)
                for r in sorted(rows, key=lambda r: r["band"])
            },
            "theory_by_band": {
                str(c): round(lsh_theory(c, n_planes, n_tables), 4)
                for c in EMB_BANDS
            },
            "pairs_emitted": n_pairs,
            "overflow_buckets": n_over,
            "wall_sec": round(wall, 1),
        }
        out["lsh"].append(rec)
        print(json.dumps(rec), flush=True)

    # --- IVF with a trained codebook ---
    t0 = time.perf_counter()
    centroids = kmeans_fit(emb, k=args.ivf_k, n_iter=args.ivf_iters)
    train_wall = time.perf_counter() - t0
    pool = planted.filter(F.col("vec_id_a") < 2 * args.partner_queries)
    queries = emb.join(
        pool.select(F.col("vec_id_a").alias("vec_id")), "vec_id", "left_semi"
    ).localCheckpoint(eager=True)
    n_pool = pool.count()

    bq = emb.filter(F.col("vec_id") < args.brute_queries)
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    t0 = time.perf_counter()
    brute = (
        bq.select("vec_id", F.col("embedding").alias("qemb"))
        .crossJoin(
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("nemb"),
            )
        )
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .withColumn("cos", cosine("qemb", "nemb"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 5)
        .select("vec_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    n_brute = brute.count()
    brute_wall = time.perf_counter() - t0
    out["ivf"] = {
        "k": args.ivf_k,
        "n_iter": args.ivf_iters,
        "train_wall_sec": round(train_wall, 1),
        "partner_pool_pairs": n_pool,
        "brute_force_wall_sec": round(brute_wall, 1),
        "brute_truth_rows": n_brute,
        "per_nprobe": {},
    }
    for nprobe in (int(x) for x in args.nprobes.split(",")):
        t0 = time.perf_counter()
        got = ivf_topk(emb, queries, centroids, topk=5, nprobe=nprobe).select(
            F.col("vec_id").alias("vec_id_a"),
            F.col("neighbor_id").alias("vec_id_b"),
        ).localCheckpoint(eager=True)
        rows = (
            pool.join(
                got.withColumn("h", F.lit(True)),
                ["vec_id_a", "vec_id_b"],
                "left",
            )
            .groupBy("band")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("h").isNotNull().cast("long")).alias("n_hit"),
            )
            .collect()
        )
        wall = time.perf_counter() - t0
        bgot = ivf_topk(emb, bq, centroids, topk=5, nprobe=nprobe).select(
            "vec_id", "neighbor_id"
        )
        brute_recall = (
            brute.join(bgot, ["vec_id", "neighbor_id"], "left_semi").count()
            / n_brute
        )
        rec = {
            "partner_recall_by_band": {
                str(round(r["band"], 3)): round(r["n_hit"] / r["n"], 4)
                for r in sorted(rows, key=lambda r: r["band"])
            },
            "brute_top5_recall": round(brute_recall, 4),
            "search_wall_sec": round(wall, 1),
        }
        out["ivf"]["per_nprobe"][str(nprobe)] = rec
        print(json.dumps({f"nprobe={nprobe}": rec}), flush=True)

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
