#!/usr/bin/env python
"""Measured throughput of the three incremental streaming legs (SURVEY
§2.9) — the batch pipeline has ladder + recall artifacts, the streams had
only correctness tests.

Writes the planted corpus as K parquet files, streams them with
``maxFilesPerTrigger=1`` (K micro-batches), and reports per-leg wall,
per-batch latency, and turns/s to BENCH/stream_r4.json.

``--even-exchange`` A/Bs the micro-batch exchange decision
(operators/lsh._repartition_even ``even=False`` on the stream path):
it monkeypatches shingle_features back to the pinned-width form so the
cost of shuffle.partitions near-empty tasks per checkpointed frame per
trigger is measured, not asserted.

    python scripts/stream_probe.py --n-convs 20000 --batches 8
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-convs", type=int, default=20_000)
    ap.add_argument("--batches", type=int, default=8)
    ap.add_argument("--master", default="local[32]")
    ap.add_argument("--shuffle-partitions", type=int, default=32)
    ap.add_argument("--work", default="/tmp/fdf_stream_probe")
    ap.add_argument("--even-exchange", action="store_true",
                    help="A/B: force the corpus-sized pinned exchange "
                         "width onto the micro-batch path")
    ap.add_argument("--out", default=None,
                    help="write/merge the result into this JSON file")
    args = ap.parse_args()

    from fast_duplicate_finder_spark.corpus import (
        generate_transcripts_distributed,
    )
    from fast_duplicate_finder_spark.session import get_spark
    from fast_duplicate_finder_spark.streaming import incremental as inc

    if args.even_exchange:
        from fast_duplicate_finder_spark.operators import neardup

        orig = neardup.shingle_features

        def pinned(docs, cfg, even_exchange=True):  # noqa: ARG001
            return orig(docs, cfg, even_exchange=True)

        neardup.shingle_features = pinned
        # the stream module imports it inside each batch fn, so patching
        # the operators module is enough

    shutil.rmtree(args.work, ignore_errors=True)
    inp = os.path.join(args.work, "in")

    spark = get_spark(
        "fdf-stream-probe",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    # K files -> K micro-batches with maxFilesPerTrigger=1; one file per
    # conv range so every batch holds fresh convs plus planted dups of
    # earlier batches' content (cross-epoch pairs exercised)
    per = args.n_convs // args.batches
    t = generate_transcripts_distributed(spark, args.n_convs)
    for b in range(args.batches):
        lo = f"conv{b * per:09d}"
        # last file takes the n_convs % batches remainder — dropping it
        # would stream fewer convs than n_turns counts, inflating
        # turns_per_sec and skipping tail convs' planted pairs
        hi_conv = (b + 1) * per if b < args.batches - 1 else args.n_convs
        hi = f"conv{hi_conv:09d}"
        (t.filter((t.conv_id >= lo) & (t.conv_id < hi))
         .coalesce(1).write.parquet(os.path.join(inp, f"b{b:02d}.parquet")))
    n_turns = t.count()

    # pandas-UDF worker warmup (same rationale as scaling_leg)
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    warm = F.pandas_udf(lambda s: s, LongType())
    spark.range(0, 100_000, 1, args.shuffle_partitions).select(
        warm("id")
    ).count()

    legs = {
        "exact": (inc.run_incremental_dedup, inc.read_dup_log, "dups"),
        "simhash": (inc.run_incremental_simhash, inc.read_near_pair_log,
                    "near_pairs"),
        "lsh": (inc.run_incremental_lsh, inc.read_lsh_pair_log, "lsh_pairs"),
    }
    out = {
        "n_convs": args.n_convs,
        "n_turns": n_turns,
        "batches": args.batches,
        "master": args.master,
        "even_exchange": bool(args.even_exchange),
        "legs": {},
    }
    for name, (runner, reader, _) in legs.items():
        wd = os.path.join(args.work, name)
        t0 = time.perf_counter()
        q = runner(spark, inp + "/*", wd, max_files_per_trigger=1)
        q.awaitTermination()
        wall = time.perf_counter() - t0
        progress = [json.loads(str(p)) for p in q.recentProgress]
        batch_ms = [p["batchDuration"] for p in progress
                    if p.get("numInputRows", 0) > 0]
        # non-marker rows only: overflow counter rows must not inflate
        # log_rows (this value is also the clusters leg's pairs_per_sec
        # numerator below)
        log = reader(spark, wd)
        n_rows = (log.filter("NOT is_overflow").count()
                  if "is_overflow" in log.columns else log.count())
        out["legs"][name] = {
            "wall_sec": round(wall, 1),
            "turns_per_sec": round(n_turns / wall, 1),
            "batch_ms_min_med_max": [
                min(batch_ms, default=0),
                sorted(batch_ms)[len(batch_ms) // 2] if batch_ms else 0,
                max(batch_ms, default=0),
            ],
            "log_rows": n_rows,
        }
        print(json.dumps({name: out["legs"][name]}), flush=True)

    # clusters leg, chained off the LSH leg's pair log (composition: the
    # epoch-partitioned log doubles as the next stream's file source)
    lsh_log = os.path.join(args.work, "lsh", "lsh_pairs", "data", "epoch_id=*")
    wd = os.path.join(args.work, "clusters")
    t0 = time.perf_counter()
    # maxFilesPerTrigger=1 like every other leg: without it availableNow
    # folds all epochs into ONE batch over empty state, measuring batch CC
    # instead of incremental maintenance
    q = inc.run_incremental_clusters(spark, lsh_log, wd, max_files_per_trigger=1)
    q.awaitTermination()
    wall = time.perf_counter() - t0
    labels = inc.read_cluster_labels(spark, wd)
    n_clusters = labels.select("label").distinct().count()
    out["legs"]["clusters(lsh_pairs)"] = {
        "wall_sec": round(wall, 1),
        "pairs_per_sec": round(
            out["legs"]["lsh"]["log_rows"] / wall, 1
        ),
        "labeled_convs": labels.count(),
        "clusters": n_clusters,
    }
    print(json.dumps({"clusters": out["legs"]["clusters(lsh_pairs)"]}),
          flush=True)

    if args.out:
        merged = {}
        if os.path.exists(args.out):
            with open(args.out) as f:
                merged = json.load(f)
        key = "even_exchange" if args.even_exchange else "bare_exchange"
        merged[key] = out
        with open(args.out, "w") as f:
            json.dump(merged, f, indent=1)
    print(json.dumps(out))
    shutil.rmtree(args.work, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
