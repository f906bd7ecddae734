"""Local replica of the driver's correctness gate: run every queries()
entry and its oracle_sql() side by side at sf0.001 and compare row sets
(order-insensitive, column-name-aligned)."""

from __future__ import annotations

import math

import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("FDF_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    try:  # Decimal -> float-ish comparison at 6 dp
        import decimal

        if isinstance(v, decimal.Decimal):
            return round(float(v), 4)
    except ImportError:
        pass
    return v


def _rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql()))
def test_query_matches_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    df = q(spark, SF_DIR)
    spark_cols = df.columns
    spark_rows = _rows(spark_cols, [tuple(r) for r in df.collect()])

    rel = ddb.sql(entry_mod.oracle_sql()[name])
    duck_cols = [d[0] for d in rel.description]
    duck_rows = _rows(duck_cols, rel.fetchall())

    assert sorted(spark_cols) == sorted(duck_cols), (spark_cols, duck_cols)
    assert spark_rows == duck_rows, (
        f"{name}: spark {len(spark_rows)} rows vs duck {len(duck_rows)}; "
        f"first diff spark={spark_rows[:3]} duck={duck_rows[:3]}"
    )


def test_ann_oracle_has_numeric_margin():
    """embedding_ann_multitable is compared bit-for-bit with its DuckDB
    oracle, which replays the plane signs and the cosine threshold. Spark
    and DuckDB may sum in different orders, so the fixture must keep every
    plane dot product clear of 0 and every pair cosine clear of min_cos:
    checked here in float64 over all vectors and all pairs."""
    import numpy as np
    import pyarrow.parquet as pq

    from fast_duplicate_finder_spark.operators.ann import rhp_planes
    from fast_duplicate_finder_spark.trainingdata import (
        _ANN_MIN_COS,
        _ANN_PLANES,
        _ANN_SEED,
        _ANN_TABLES,
    )

    emb = pq.read_table(f"{SF_DIR}/embeddings.parquet", columns=["embedding"])
    e = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    planes = np.array(
        rhp_planes(_ANN_TABLES, _ANN_PLANES, 64, _ANN_SEED), dtype=np.float64
    ).reshape(-1, 64)
    assert np.abs(e @ planes.T).min() >= 1e-9
    unit = e / np.linalg.norm(e, axis=1, keepdims=True)
    cos = (unit @ unit.T)[np.triu_indices(len(e), 1)]
    assert np.abs(cos - _ANN_MIN_COS).min() >= 1e-9


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert df.columns == ["cluster_id", "n_members", "size_chars", "wasted_chars"]


def test_rows_only_queries_run(spark):
    for name in set(entry_mod.queries()) - set(entry_mod.oracle_sql()):
        df = entry_mod.queries()[name](spark, SF_DIR)
        assert df.count() >= 0, name
