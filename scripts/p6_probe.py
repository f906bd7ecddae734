#!/usr/bin/env python
"""Isolate WHY p6_features scales only ~2.3x from 2 to 8 executors
(BENCH/ladder_r4_subknee.json) when p7a/p7c reach 3.0-3.4x.

Times three nested slices of the phase on the ladder corpus, sampling
host busy cores during each, in a fresh JVM per master:

  A. shingle_features only (JVM tokenize + lead-window + collect_list)
  B. near_dup_features (A + both Arrow kernels + the supershingle HOF)
  C. B + the bucketed checkpoint write (the full phase as the pipeline
     runs it)

B-A = Python-kernel + HOF marginal cost; C-B = parquet encode/write.
Busy-core samples distinguish "not enough parallel work" (busy << claimed
cores) from "past the host's membw knee" (busy >> claimed cores via
JVM/Python overlap — see BENCH/host_calibration_r3.json).

    python scripts/p6_probe.py --master 'local-cluster[8,1,10240]' \
        --input /tmp/fdf_scaling/corpus_800000
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", required=True)
    ap.add_argument("--input", default="/tmp/fdf_scaling/corpus_800000")
    ap.add_argument("--shuffle-partitions", type=int, default=0,
                    help="0 = ladder rule (2 x total cores)")
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    sys.path.insert(0, "/root/repo")
    import re

    m = re.match(r"local-cluster\[(\d+),(\d+),\d+\]", args.master)
    total_cores = int(m.group(1)) * int(m.group(2)) if m else 8
    shuffle = args.shuffle_partitions or 2 * total_cores

    from pyspark.sql import functions as F

    from fast_duplicate_finder_spark.config import PipelineConfig
    from fast_duplicate_finder_spark.operators.neardup import (
        near_dup_features,
        shingle_features,
    )
    from fast_duplicate_finder_spark.session import get_spark
    from fast_duplicate_finder_spark.sources.transcripts import (
        assemble_conversations,
    )
    from fast_duplicate_finder_spark.storage import CheckpointStore

    spark = get_spark(
        "fdf-p6-probe",
        master=args.master,
        shuffle_partitions=shuffle,
        extra_conf={"spark.locality.wait": "0s",
                    "spark.ui.enabled": "true"},
    )
    cfg = PipelineConfig()
    transcripts = spark.read.parquet(args.input)

    # pandas-UDF worker warmup (same as scaling_leg)
    from pyspark.sql.types import LongType

    warm = F.pandas_udf(lambda s: s, LongType())
    spark.range(0, 100_000, 1, shuffle).select(warm("id")).count()

    # p1_docs equivalent, checkpointed once so every step reads the
    # same materialized input (as the pipeline does)
    ck = f"/tmp/fdf_p6_probe_{total_cores}"
    store = CheckpointStore(spark, ck, cfg.fingerprint())
    docs = store.write(assemble_conversations(transcripts), "docs")

    from probe_util import StageProbe

    probe = StageProbe(spark)
    step = probe.step

    runs = []
    for rep in range(args.reps):
        out: dict = {}
        # A: JVM-only slice; sink forces full column evaluation
        step("A_shingle_jvm", lambda: shingle_features(docs, cfg).agg(
            F.sum(F.size("shset")), F.sum(F.size("grams"))
        ).collect()[0][0], out)
        # B: + Arrow kernels + HOF; cheap agg sink, no parquet encode
        step("B_features_nowrite", lambda: near_dup_features(docs, cfg).agg(
            F.sum(F.size("shset")),
            F.bit_xor(F.element_at("minhash", 1)),
            F.bit_xor("simhash"),
            F.sum(F.size("sgs")),
        ).collect()[0][0], out)
        # C: the full phase — bucketed checkpoint write like run_pipeline
        import shutil

        shutil.rmtree(os.path.join(ck, "p6_features"), ignore_errors=True)
        step("C_full_phase", lambda: store.write(
            near_dup_features(docs, cfg), "p6_features",
            bucket_by=["conv_id"],
        ).count(), out)
        runs.append(out)
        print(json.dumps({"master": args.master, "rep": rep, **{
            k: {kk: vv for kk, vv in v.items() if kk != "result"}
            for k, v in out.items()}}, indent=1), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
