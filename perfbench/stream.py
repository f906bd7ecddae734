"""Workload ``stream_planted``: the seeded planted corpus arriving as two
parquet files (``maxFilesPerTrigger=1``, so two epochs per leg) through
the exact, SimHash and MinHash/LSH legs. Epoch 1 of every leg reads the
state epoch 0 wrote. The three legs consume the input at once, as three
queries of one application would.

The traced run also runs the incremental clusters leg on the legs' pair
logs, re-published by source epoch (the composition
``scripts/stream_recall_probe.py`` uses); the timed runs leave it out to
fit the run budget (BASELINE.md) and cluster the pairs on the driver for
the recall check.

Per-epoch numbers come from ``StreamingQuery.recentProgress``; state size
from the legs' state directories after the run; stage metrics from the job
group Structured Streaming runs each query's jobs under (its run id).
"""

from __future__ import annotations

import os
import time
import traceback

import check
from harness import (
    StageMetrics,
    add_stage_spans,
    dir_usage,
    layer_totals,
    median,
    parquet_rows,
    utc_seconds,
)

N_CONVS = 1200
N_FILES = 2

DEDUP_LEGS = ("exact", "simhash", "lsh")
LEGS = DEDUP_LEGS + ("clusters",)
# state directories of each leg, under the leg's work dir
STATE_DIRS = {
    "exact": ["state"],
    "simhash": ["sim_state"],
    "lsh": ["lsh_state"],
    "clusters": ["base", "merges"],
}
LEG_FIELDS = ("add_batch_s", "engine_s", "batch_growth", "state_files",
              "state_mb", "log_rows", "udf_stage_s", "udf_s")


def layer_metric_names() -> list[str]:
    names = [f"stream.{leg}.{f}" for leg in LEGS for f in LEG_FIELDS]
    names += [f"stream.{leg}.turns_per_s" for leg in DEDUP_LEGS]
    names += ["stream.clusters.pairs_per_s", "stream.batch_p50_s",
              "stream.feed_s"]
    return names


def _runner(leg: str):
    from fast_duplicate_finder_spark.streaming import incremental as inc

    return {"exact": inc.run_incremental_dedup,
            "simhash": inc.run_incremental_simhash,
            "lsh": inc.run_incremental_lsh,
            "clusters": inc.run_incremental_clusters}[leg]


def _progress(p) -> dict:
    d = p["durationMs"]
    return {"batch": p["batchId"], "timestamp": p["timestamp"],
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "rows": p["numInputRows"]}


def _start(spark, leg: str, src: str, work: str) -> dict:
    t0 = time.perf_counter()
    q = _runner(leg)(spark, src, os.path.join(work, leg),
                     max_files_per_trigger=1)
    return {"start": t0, "query": q}


def _finish(r: dict) -> dict:
    q = r.pop("query")
    try:
        q.awaitTermination()
    except Exception:  # noqa: BLE001 — counted as a failed leg
        traceback.print_exc()
    r["wall"] = time.perf_counter() - r["start"]
    r["run_id"] = str(q.runId)
    r["progress"] = ([] if q.exception() else
                     [_progress(p) for p in q.recentProgress])
    return r


def setup(spark, args, work: str) -> dict:
    """Write the corpus as one parquet file per epoch, conv ids dealt
    round-robin: every planted family (20-conv blocks) spans both files, so
    epoch 1 finds duplicates of epoch-0 content in state."""
    from fast_duplicate_finder_spark.corpus import (
        generate_transcripts_distributed,
    )
    from pyspark.sql import functions as F

    stage, inp = os.path.join(work, "stage"), os.path.join(work, "in")
    # one job writes one file per epoch; older mtimes go to earlier files,
    # so the file source takes them in order
    generate_transcripts_distributed(spark, N_CONVS, seed=args.seed,
                                     partitions=8) \
        .withColumn("b", F.pmod(F.substring("conv_id", 5, 9).cast("int"),
                                F.lit(N_FILES))) \
        .repartition(1).write.partitionBy("b").parquet(stage)
    os.makedirs(inp)
    now = time.time()
    for b in range(N_FILES):
        dst = os.path.join(inp, f"b{b:02d}.parquet")
        os.rename(os.path.join(stage, f"b={b}"), dst)
        for fn in os.listdir(dst):
            os.utime(os.path.join(dst, fn), (now - N_FILES + b,) * 2)
    return {"work": work, "inp": inp,
            "transcripts": spark.read.parquet(os.path.join(inp, "*")),
            "n_turns": parquet_rows(inp)}


def _pair_logs(spark, work: str):
    """The dedup legs' verified pairs as one ``(conv_id_a, conv_id_b,
    epoch_id)`` frame: LSH and SimHash pairs (overflow markers dropped) and
    the exact leg's duplicate -> first-seen edges."""
    from fast_duplicate_finder_spark.streaming import incremental as inc
    from pyspark.sql import functions as F

    cols = ("conv_id_a", "conv_id_b", "epoch_id")
    lsh = inc.read_lsh_pair_log(spark, os.path.join(work, "lsh")) \
        .filter(~F.col("is_overflow")).select(*cols)
    sim = inc.read_near_pair_log(spark, os.path.join(work, "simhash")) \
        .filter(~F.col("is_overflow")).select(*cols)
    exact = inc.read_dup_log(spark, os.path.join(work, "exact")).select(
        F.col("conv_id").alias("conv_id_a"),
        F.col("first_conv_id").alias("conv_id_b"), "epoch_id")
    return lsh.unionByName(exact).unionByName(sim)


def measure(spark, state: dict, seconds: float, tracer=None) -> dict:
    """One pass of the three dedup legs over both files is the fixed unit
    of work (it exceeds ``seconds``). Recall is checked outside the timed
    window: connected components of the streamed pairs (the clusters
    leg's labels in the traced run) against the planted truth."""
    from fast_duplicate_finder_spark.streaming import incremental as inc
    from pyspark.sql import functions as F

    work, inp = state["work"], state["inp"]
    runs = {leg: _start(spark, leg, inp + "/*", work) for leg in DEDUP_LEGS}
    res: dict = {leg: _finish(runs[leg]) for leg in DEDUP_LEGS}
    dedup_wall = max(r["start"] + r["wall"] for r in res.values()) \
        - min(r["start"] for r in res.values())
    legs = DEDUP_LEGS
    spark.sparkContext.setJobGroup("perfbench-check", "output check")
    pairs = _pair_logs(spark, work).localCheckpoint(eager=True)
    labels = check.components(
        (r[0], r[1]) for r in pairs.select("conv_id_a", "conv_id_b").collect())
    if tracer is not None:
        legs = LEGS
        t0 = time.perf_counter()
        feed = os.path.join(work, "feed")
        pairs.withColumn("is_overflow", F.lit(False)) \
            .repartition(N_FILES, "epoch_id").write.partitionBy("epoch_id") \
            .parquet(feed)
        res["feed_s"] = time.perf_counter() - t0
        res["pairs_fed"] = pairs.count()
        res["clusters"] = _finish(_start(
            spark, "clusters", os.path.join(feed, "epoch_id=*"), work))
        spark.sparkContext.setJobGroup("perfbench-check", "output check")
        labels = check.labels_of(
            inc.read_cluster_labels(spark, os.path.join(work, "clusters")),
            "conv_id", "label")
    # a leg that failed has no progress
    failed = sum(1 for leg in legs if not res[leg]["progress"])
    rr = check.cluster_recall(
        check.planted_truth(state["transcripts"], N_CONVS), labels)
    if not check.gate(rr):
        print(f"stream_planted: recall gate failed: {rr}")
        failed += 1
    return {
        "attempted": len(legs),
        "failed": failed,
        "samples": 1,
        "wall_s": dedup_wall,
        "e2e": {"turns_per_s": state["n_turns"] / dedup_wall,
                "recall": rr["recall_clusters"]},
        "layers": _layers(spark, state, res, tracer) if tracer else {},
    }


def _layers(spark, state, res, tracer) -> dict:
    """Per-leg numbers and stage metrics of the traced run."""
    t_hook = time.perf_counter()
    work = state["work"]
    layers: dict[str, float] = {}
    for leg in LEGS:
        prog = res[leg]["progress"]
        add = sum(e["add_batch_ms"] for e in prog) / 1000.0
        trig = sum(e["trigger_ms"] for e in prog) / 1000.0
        files = size = 0
        for d in STATE_DIRS[leg]:
            f, s = dir_usage(os.path.join(work, leg, d))
            files, size = files + f, size + s
        layers.update({
            f"stream.{leg}.add_batch_s": add,
            f"stream.{leg}.engine_s": trig - add,
            f"stream.{leg}.batch_growth":
                prog[-1]["trigger_ms"] / prog[0]["trigger_ms"]
                if prog and prog[0]["trigger_ms"] else 0.0,
            f"stream.{leg}.state_files": float(files),
            f"stream.{leg}.state_mb": size / 1e6,
            f"stream.{leg}.log_rows": float(_log_rows(spark, leg, work)),
        })
    for leg in DEDUP_LEGS:
        layers[f"stream.{leg}.turns_per_s"] = (state["n_turns"]
                                               / res[leg]["wall"])
    layers["stream.clusters.pairs_per_s"] = (res["pairs_fed"]
                                             / res["clusters"]["wall"])
    layers["stream.batch_p50_s"] = median(
        [e["trigger_ms"] / 1000.0 for leg in DEDUP_LEGS
         for e in res[leg]["progress"]])
    layers["stream.feed_s"] = res["feed_s"]
    _trace(spark, tracer, res, layers)
    tracer.overhead_s += time.perf_counter() - t_hook
    return layers


def _log_rows(spark, leg: str, work: str) -> int:
    from fast_duplicate_finder_spark.streaming import incremental as inc

    reader = {"exact": inc.read_dup_log, "simhash": inc.read_near_pair_log,
              "lsh": inc.read_lsh_pair_log,
              "clusters": inc.read_cluster_labels}[leg]
    return reader(spark, os.path.join(work, leg)).count()


def _trace(spark, tracer, res, layers) -> None:
    """Spans leg -> epoch -> stage, and each leg's Python-UDF stage
    time."""
    metrics = StageMetrics(spark)
    per_group = metrics.collect({res[leg]["run_id"] for leg in LEGS})
    span_of_group = {}
    for leg in LEGS:
        r = res[leg]
        leg_span = tracer.add(f"leg {leg}", r["start"],
                              r["start"] + r["wall"], None)
        for e in r["progress"]:
            s = utc_seconds(e["timestamp"].replace("Z", "GMT"))
            if s is None:
                continue
            s = tracer.from_wall(s)
            span_of_group[r["run_id"]] = tracer.add(
                f"epoch {e['batch']}", s, s + e["trigger_ms"] / 1000.0,
                leg_span, rows=e["rows"],
                add_batch_s=e["add_batch_ms"] / 1000.0)
        tot = layer_totals(metrics, {k: v for k, v in per_group.items()
                                     if k == r["run_id"]})
        layers[f"stream.{leg}.udf_stage_s"] = tot["udf_stage_s"]
        layers[f"stream.{leg}.udf_s"] = tot["udf_s"]
    add_stage_spans(tracer, span_of_group, per_group)
