"""Connected components: the one-worker finish of a graph within the
cap, and hash-to-min rounds with the root link above it
(``operators/connected_components``). Every result is checked against a
driver union-find (``tests/oracle``); the iterative-path pins pass
``residual_cap=0``."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import DataFrame

from fast_duplicate_finder_spark.operators.connected_components import (
    connected_components,
)
from fast_duplicate_finder_spark.plans.logging import get_logger

from tests.oracle import components


def test_connected_components_basic(spark):
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("x", "c")],
        "conv_id_a string, conv_id_b string",
    )
    got = {
        r["conv_id"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "x": "a", "d": "d", "e": "d"}


def test_connected_components_deep_chain_converges(spark):
    """Pointer jumping is what makes a LONG PATH converge: pure
    neighbor-min propagation moves the minimum one hop per round, so a
    300-node path would blow the max_iter=50 cap and RAISE; label
    compression halves chains per round (O(log diameter)). A shuffled
    node order keeps the min in the middle of the chain."""
    import random

    rng = random.Random(3)
    ids = [f"n{i:04d}" for i in range(300)]
    rng.shuffle(ids)  # path order != label order
    pairs = spark.createDataFrame(
        list(zip(ids, ids[1:])), "conv_id_a string, conv_id_b string"
    )
    got = {
        r["conv_id"]: r["component"]
        for r in connected_components(pairs, residual_cap=0).collect()
    }
    assert len(got) == 300
    assert set(got.values()) == {min(ids)}


@pytest.mark.parametrize("cap", [0, 10**18], ids=["iterative", "residual"])
def test_connected_components_match_union_find(spark, cap):
    """Property check against a driver union-find, in ONE call over a
    disjoint union of shapes: a seeded random graph (many small and a few
    merged components), a ~200-node path with shuffled ids (the min sits
    mid-chain), a star whose hub has the largest id, self-loops on nodes
    that have other edges (they change nothing) and duplicate edges in
    both orientations. Run purely iterative (cap 0) and finished on one
    worker (cap above the edge count)."""
    import random

    rng = random.Random(11)
    rnd = [f"r{i:03d}" for i in range(150)]
    pairs = [tuple(rng.sample(rnd, 2)) for _ in range(110)]
    path = [f"p{i:03d}" for i in range(200)]
    rng.shuffle(path)
    pairs += list(zip(path, path[1:]))
    pairs += [("s99", f"s{i:02d}") for i in range(30)]
    pairs += [(x, x) for x in (pairs[0][0], path[0], path[-1], "s99", "s05")]
    pairs += [(b, a) for a, b in rng.sample(pairs, 40)] + pairs[:20]
    df = spark.createDataFrame(pairs, "conv_id_a string, conv_id_b string")
    got = {
        r["conv_id"]: r["component"]
        for r in connected_components(df, residual_cap=cap).collect()
    }
    assert got == components(pairs)


def test_connected_components_long_chain_and_nonconvergence():
    """Union-at-root + pointer doubling: a 120-node path graph converges
    in a few OUTER rounds (plain neighbor-min needs 119 > max_iter and
    previously returned SPLIT components silently); non-convergence still
    raises — max_iter=1 cannot finish any non-trivial graph (round 1
    always changes labels, so the loop must run at least twice to OBSERVE
    convergence). max_iter=2 now succeeds on this ordered path: round 1's
    root-union + full compression already labels the whole chain."""
    import pytest as _pytest

    from fast_duplicate_finder_spark.operators.connected_components import (
        connected_components,
    )
    from fast_duplicate_finder_spark.session import get_spark

    spark = get_spark("cc-chain", cores=4, shuffle_partitions=8)
    n = 120
    ids = [f"{i:05d}" for i in range(n)]
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)],
        "conv_id_a string, conv_id_b string",
    )
    comp = connected_components(pairs, max_iter=15, residual_cap=0)
    labels = {r["component"] for r in comp.collect()}
    assert labels == {ids[0]}  # ONE component, min label everywhere

    assert {
        r["component"]
        for r in connected_components(pairs, max_iter=2, residual_cap=0).collect()
    } == {ids[0]}  # round-1 root-union + compression finishes the chain

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=1, residual_cap=0)


def test_cc_change_detection_rides_the_checkpoint(spark, monkeypatch):
    """VERDICT round-3 #5: convergence counts must come from the SAME
    action that materializes each round (Observation metrics on the
    localCheckpoint), not separate filter(changed).count() jobs — at 100 TB
    those were 2-8 extra full-stage jobs per round of pure fixed cost.
    Pin: ZERO DataFrame.count calls during a multi-round CC run (the
    300-node shuffled path needs several outer rounds + doubling passes),
    with output identical to the single-component truth."""
    rng = random.Random(7)
    ids = [f"n{i:04d}" for i in range(300)]
    rng.shuffle(ids)
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)],
        "conv_id_a string, conv_id_b string",
    )

    calls = {"count": 0}
    orig_count = DataFrame.count

    def counting(self):
        calls["count"] += 1
        return orig_count(self)

    monkeypatch.setattr(DataFrame, "count", counting)
    comp = connected_components(pairs, max_iter=15, residual_cap=0)
    rows = comp.collect()
    assert calls["count"] == 0, (
        f"{calls['count']} separate count() actions during CC — change "
        "detection must ride the checkpoint materialization"
    )
    assert len(rows) == 300
    assert {r["component"] for r in rows} == {min(ids)}


@pytest.mark.parametrize("shape", ["disjoint_pairs", "shuffled_path"])
def test_connected_components_small_graph_job_count(spark, shape):
    """A graph within the residual cap costs one edge materialization and
    one grouped map, whatever its shape: 400 disjoint pairs and a 400-edge
    path with shuffled ids each take at most 6 Spark jobs, collect
    included (the purely iterative form took 32 and 151). The log names
    the edge count the cap decided on and the round count."""
    rng = random.Random(5)
    if shape == "disjoint_pairs":
        pairs = [(f"a{i:04d}", f"b{i:04d}") for i in range(400)]
    else:
        ids = [f"n{i:04d}" for i in range(401)]
        rng.shuffle(ids)
        pairs = list(zip(ids, ids[1:]))
    df = spark.createDataFrame(pairs, "conv_id_a string, conv_id_b string")
    df.collect()  # the local relation's own setup is not CC's cost
    sc = spark.sparkContext
    group = f"cc_job_count_{shape}"
    n_logs = len(get_logger().get_logs())
    sc.setJobGroup(group, "connected components job count")
    try:
        got = {
            r["conv_id"]: r["component"]
            for r in connected_components(df).collect()
        }
    finally:
        sc.setJobGroup("", "")
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= 6, f"{n_jobs} Spark jobs for a 400-edge graph"
    assert got == components(pairs)
    logged = [
        e["data"] for e in get_logger().get_logs()[n_logs:]
        if e.get("context") == "connected_components"
    ]
    assert logged == [
        {"edges": 400, "rounds": 0, "residual_cap": 4_000_000}
    ]
