"""Real-Iceberg integration — executable on arrival of the runtime jar.

The checkpoint store writes parquet only (storage.py has no Iceberg
writer), so the north-rule claim "Iceberg tables bucketed by
bucket(N, conv_id) feed storage-partitioned joins" has only been prose. This test turns that gap
into executable code: on any host whose Spark classpath carries the jar
(``iceberg_available``), it provisions a hadoop catalog in tmp, writes the
transcript table with a ``bucket(N, conv_id)`` partition transform, checks
per-turn round-trip equality, and asserts the co-bucketed self-join plans
WITHOUT a shuffle exchange (Spark's storage-partitioned join, SPARK-37375).
Here it is SKIPPED with the jar-absence reason — not silently green."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


CATALOG = "fdf_it"

_SPJ_CONF = {
    # storage-partitioned join prerequisites (DSv2 bucketing, Spark 3.4+)
    "spark.sql.sources.v2.bucketing.enabled": "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled": "true",
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
    "spark.sql.adaptive.enabled": "false",  # stable plan for the assert
    "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the join strategy
}


def test_iceberg_bucketed_write_and_storage_partitioned_join(
    spark, tmp_path
):
    from fast_duplicate_finder_spark.corpus import generate_transcripts
    from fast_duplicate_finder_spark.storage import iceberg_available

    if not iceberg_available(spark):
        pytest.skip(
            "no iceberg-spark-runtime jar on the JVM classpath — this "
            "integration test executes on arrival of the runtime"
        )

    # hadoop catalog in tmp: lazily initialized, so runtime conf.set works
    spark.conf.set(
        f"spark.sql.catalog.{CATALOG}",
        "org.apache.iceberg.spark.SparkCatalog",
    )
    spark.conf.set(f"spark.sql.catalog.{CATALOG}.type", "hadoop")
    spark.conf.set(
        f"spark.sql.catalog.{CATALOG}.warehouse", str(tmp_path / "wh")
    )
    saved = {k: spark.conf.get(k, None) for k in _SPJ_CONF}
    try:
        t = generate_transcripts(spark, n_convs=200, seed=3)
        tbl = f"{CATALOG}.db.transcripts"
        (
            t.writeTo(tbl)
            .partitionedBy(F.bucket(8, F.col("conv_id")))
            .using("iceberg")
            .createOrReplace()
        )
        back = spark.table(tbl)
        # per-row round trip: same (conv_id, turn_idx) -> same text
        orig = {
            (r["conv_id"], r["turn_idx"]): r["text"] for r in t.collect()
        }
        got = {
            (r["conv_id"], r["turn_idx"]): r["text"] for r in back.collect()
        }
        assert got == orig

        # a second table, same bucket transform: the co-partitioned join
        # must be storage-partitioned (no shuffle exchange in the plan)
        tbl2 = f"{CATALOG}.db.transcripts_b"
        (
            t.groupBy("conv_id")
            .agg(F.count("*").alias("n_turns"))
            .writeTo(tbl2)
            .partitionedBy(F.bucket(8, F.col("conv_id")))
            .using("iceberg")
            .createOrReplace()
        )
        for k, v in _SPJ_CONF.items():
            spark.conf.set(k, v)
        joined = spark.table(tbl).join(spark.table(tbl2), "conv_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        n = joined.count()
        assert n == t.count()  # every turn matched its conv row exactly
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
