#!/usr/bin/env python
"""State-read cost before/after epoch-state compaction at ~100 epochs.

Drives the exact leg's `_dedup_batch` directly for N epochs (the stream's
own per-batch function, minus StreamingQuery trigger overhead — this probe
measures STATE layout cost, not trigger latency), leaving the seen-hash
state with one `epoch_id=K` directory per epoch. Then measures the state
read every micro-batch performs — listing + planning + scan of all prior
epochs (`_prior_state`) — before and after `compact_dedup_state`, plus raw
directory/file counts.

The claim under test: partition and file COUNT grow with stream lifetime
and degrade listing/planning even at flat data volume; compaction folds
them back to a single reserved epoch with zero row changes.

    python scripts/compaction_probe.py --epochs 100 --convs-per-epoch 400
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


def _count_dirs_files(path: str) -> tuple[int, int]:
    n_dirs = n_files = 0
    for _root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        n_dirs += len(dirs)
        n_files += sum(
            1 for f in files if f.endswith(".parquet") and not f.startswith(".")
        )
    return n_dirs, n_files


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--epochs", type=int, default=100)
    ap.add_argument("--convs-per-epoch", type=int, default=400)
    ap.add_argument("--master", default="local[8]")
    ap.add_argument("--shuffle-partitions", type=int, default=8)
    ap.add_argument("--reads", type=int, default=7,
                    help="timed state-read repetitions (min reported)")
    ap.add_argument("--work", default="/tmp/fdf_compaction_probe")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from fast_duplicate_finder_spark.corpus import generate_transcripts
    from fast_duplicate_finder_spark.session import get_spark
    from fast_duplicate_finder_spark.streaming import incremental as inc

    shutil.rmtree(args.work, ignore_errors=True)
    state_dir = os.path.join(args.work, "state")
    dups_dir = os.path.join(args.work, "dups")
    os.makedirs(state_dir)
    os.makedirs(dups_dir)
    spark = get_spark(
        "fdf-compaction-probe",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    state_data = os.path.join(state_dir, "data")

    # the epoch slicing below compares 6-digit zero-padded conv_id strings
    # (generate_transcripts' format); at >= 10^6 convs the ids grow a 7th
    # digit and lexicographic ranges silently misbucket
    if args.epochs * args.convs_per_epoch > 10**6:
        sys.exit("compaction_probe: epochs * convs_per_epoch must be <= 1e6 "
                 "(6-digit conv_id slicing)")

    # one corpus, sliced into per-epoch batches by conv index: every epoch
    # carries fresh convs (plus the generator's planted duplicate families)
    t = generate_transcripts(
        spark, n_convs=args.epochs * args.convs_per_epoch, seed=11
    ).localCheckpoint(eager=True)
    t0 = time.perf_counter()
    epoch_walls = []
    for e in range(args.epochs):
        lo = f"conv{e * args.convs_per_epoch:06d}"
        hi = f"conv{(e + 1) * args.convs_per_epoch:06d}"
        batch = t.filter((F.col("conv_id") >= lo) & (F.col("conv_id") < hi))
        w0 = time.perf_counter()
        inc._dedup_batch(batch, e, state_dir, dups_dir)
        epoch_walls.append(time.perf_counter() - w0)
    build_wall = time.perf_counter() - t0

    def timed_state_read() -> tuple[float, int]:
        """min wall of the per-batch state read (every epoch but a future
        one): fresh DataFrame per rep (planning + file listing included,
        which is the point)."""
        best = float("inf")
        for _ in range(args.reads):
            r0 = time.perf_counter()
            n = inc._prior_state(spark, state_data, 10**9).count()
            best = min(best, time.perf_counter() - r0)
        return best, n

    dirs_before, files_before = _count_dirs_files(state_data)
    read_before, rows_before = timed_state_read()
    dup_rows_before = inc.read_dup_log(spark, args.work).count()

    c0 = time.perf_counter()
    inc.compact_dedup_state(spark, args.work)
    compact_wall = time.perf_counter() - c0

    dirs_after, files_after = _count_dirs_files(state_data)
    read_after, rows_after = timed_state_read()
    assert rows_after == rows_before, (rows_before, rows_after)
    assert inc.read_dup_log(spark, args.work).count() == dup_rows_before

    # the stream continues over folded state: one more epoch, then verify
    # total dup count equals a from-scratch batch computation
    lo = f"conv{(args.epochs - 1) * args.convs_per_epoch:06d}"
    post = t.filter(F.col("conv_id") >= lo).withColumn(
        "conv_id", F.concat(F.lit("post_"), "conv_id")
    )
    inc._dedup_batch(post, args.epochs, state_dir, dups_dir)
    dup_rows_post = inc.read_dup_log(spark, args.work).count()
    # every post_ conv is a byte-copy of a conv whose hash lives in the
    # FOLDED state, so each must be logged as a duplicate — this is the
    # actual check that continuation-over-compacted-state works (without
    # it a compaction that dropped the folded hashes would still exit 0)
    n_post = post.select("conv_id").distinct().count()
    assert dup_rows_post - dup_rows_before == n_post, (
        dup_rows_before, dup_rows_post, n_post,
    )

    out = {
        "probe": "compaction_state_read",
        "leg": "exact",
        "epochs": args.epochs,
        "convs_per_epoch": args.convs_per_epoch,
        "master": args.master,
        "build_wall_sec": round(build_wall, 1),
        "epoch_wall_first_mid_last_sec": [
            round(epoch_walls[0], 2),
            round(epoch_walls[len(epoch_walls) // 2], 2),
            round(epoch_walls[-1], 2),
        ],
        "before": {
            "partition_dirs": dirs_before,
            "part_files": files_before,
            "state_read_min_sec": round(read_before, 3),
        },
        "after": {
            "partition_dirs": dirs_after,
            "part_files": files_after,
            "state_read_min_sec": round(read_after, 3),
        },
        "read_speedup": round(read_before / read_after, 2),
        "compact_wall_sec": round(compact_wall, 1),
        "state_rows": rows_after,
        "dup_rows_before": dup_rows_before,
        "dup_rows_after_post_epoch": dup_rows_post,
    }
    print(json.dumps(out, indent=1))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()
    shutil.rmtree(args.work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
