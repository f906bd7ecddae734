#!/usr/bin/env python
"""Per-stage scaling probe for the p7 pair legs + p8 clustering, reading
the p6_features checkpoint scripts/p6_probe.py leaves behind. Same
busy-core + task-summary instrumentation; locates AQE merge-skew
stragglers (see operators/lsh._repartition_even) in the band-join
exchanges.

    python scripts/p7_probe.py --master 'local-cluster[8,1,10240]'
"""

from __future__ import annotations

import argparse
import json
import re
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", required=True)
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()
    sys.path.insert(0, "/root/repo")

    m = re.match(r"local-cluster\[(\d+),(\d+),\d+\]", args.master)
    total_cores = int(m.group(1)) * int(m.group(2)) if m else 8
    shuffle = 2 * total_cores

    from pyspark.sql import functions as F

    from fast_duplicate_finder_spark.config import PipelineConfig
    from fast_duplicate_finder_spark.operators.connected_components import (
        connected_components,
    )
    from fast_duplicate_finder_spark.operators.neardup import (
        minhash_pairs,
        simhash_pairs,
        span_pairs,
    )
    from fast_duplicate_finder_spark.session import get_spark
    from fast_duplicate_finder_spark.storage import CheckpointStore

    spark = get_spark(
        "fdf-p7-probe",
        master=args.master,
        shuffle_partitions=shuffle,
        extra_conf={"spark.locality.wait": "0s",
                    "spark.ui.enabled": "true"},
    )
    cfg = PipelineConfig()
    ck = f"/tmp/fdf_p6_probe_{total_cores}"
    store = CheckpointStore(spark, ck, cfg.fingerprint())
    features = store.read("p6_features")

    from pyspark.sql.types import LongType

    warm = F.pandas_udf(lambda s: s, LongType())
    spark.range(0, 100_000, 1, shuffle).select(warm("id")).count()

    from probe_util import StageProbe

    probe = StageProbe(spark, min_run_ms=500)
    step = probe.step

    for rep in range(args.reps):
        out: dict = {}
        step("p7a_minhash", lambda: (lambda p, o: p.count())(
            *minhash_pairs(features, cfg)), out)
        step("p7b_simhash", lambda: (lambda p, o: p.count())(
            *simhash_pairs(features, cfg)), out)
        step("p7c_span", lambda: (lambda p, o: p.count())(
            *span_pairs(features, cfg)), out)
        # p8 on the real pair distribution: all three legs' pairs
        mh, _ = minhash_pairs(features, cfg)
        sh, _ = simhash_pairs(features, cfg)
        sp, _ = span_pairs(features, cfg)
        pairs = (
            mh.select("conv_id_a", "conv_id_b")
            .union(sh.select("conv_id_a", "conv_id_b"))
            .union(sp.select("conv_id_a", "conv_id_b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        step("p8_cc", lambda: connected_components(pairs).count(), out)
        print(json.dumps({"master": args.master, "rep": rep, **{
            k: {kk: vv for kk, vv in v.items() if kk != "result"}
            for k, v in out.items()}}), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
