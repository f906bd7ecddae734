"""Connected components on a pair DataFrame — one-worker union-find for a
graph within a cap, iterative min-label propagation above it.

Needed to turn verified near-duplicate *pairs* into duplicate *clusters*
(the reference never needs this: exact hashing partitions transitively for
free; near-dup similarity does not). No GraphFrames dependency — pure
DataFrame ops (hash-to-min label propagation; cf. BTS, ICDE 2024 in
PAPERS.md, and the classic large-star/small-star family).

Scale notes:
* one-worker finish (Kiveris et al., SoCC 2014: finish a small graph on
  one machine): the edge count rides the ``Observation`` of the edges'
  materialization, and the operator decides once from it. A graph of at
  most ``residual_cap`` edges (default ``RESIDUAL_CAP``) is collected by
  ONE ``applyInPandas`` on a constant key and finished there by a
  vectorized union-find whose roots are the minimum labels; the grouped
  map is lazy, so the consumer's action runs it. That is one
  materialization plus one grouped map and no rounds, where the rounds
  below take 32+ jobs of fixed cost on any small graph. A larger graph
  runs the rounds below unchanged. The decision, edge count and round
  count are logged through ``plans.logging``, so the cap never decides
  silently; ``residual_cap=0`` iterates any non-empty graph. The cap is
  the largest size measured: a 4M-edge path with shuffled 12-character
  ids on ``local[4]`` peaked at 1.23 GiB RSS in the one Python worker (10 s
  of union-find, 30 s wall); 1M and 2M edges peaked at 0.39 and 0.75 GiB.
  Finishing after some rounds, once the open edges fall under the cap,
  waits for a workload above the cap to measure it on;
* each OUTER round = neighbor-min (join + agg) + union-at-the-root (every
  improvement is forwarded to the node's CURRENT root — the union-find
  "link") + an INNER pointer-doubling loop (label <- label(label) to
  fixpoint — the "compress"). Doubling halves pointer chains per pass and
  the root link merges regions at region granularity, so even an
  adversarial shuffled-id path converges in a handful of outer rounds;
  node-local hash-min with one compression hop (the first round-3 form)
  crawled one hop per round through regions whose min sits at the far end
  and blew a 50-round cap on a 300-node path. Non-convergence at max_iter
  RAISES instead of silently splitting a component;
* ONE Spark action per round step: convergence counts ride the checkpoint
  materialization as ``Observation`` metrics (``_truncated_counted``) —
  no separate ``filter(changed).count()`` job per round/pass;
* lineage is truncated per round via ``_truncated`` — NOT a bare
  ``localCheckpoint``: Dataset.(local)Checkpoint copies the optimized
  plan's sizeInBytes into the replacement LogicalRDD, so feeding a
  checkpoint into the next round's self-join SQUARES the statistic every
  iteration; by ~15 rounds the BigInteger arithmetic inside
  SizeInBytesOnlyStatsPlanVisitor dominates driver CPU (measured 2.5x
  slower per round on an 80-node path, flat plans, tiny data) and then
  OOMs the driver. Rebuilding the frame over the materialized RDD resets
  the statistic; AQE re-plans joins from true runtime sizes anyway;
* labels are the *min conv_id string* so the final cluster id convention
  matches the exact cascade (deterministic, report-sortable).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Largest edge count finished on one Python worker: the largest size
# measured (module docstring), 1.23 GiB peak worker RSS there.
RESIDUAL_CAP = 4_000_000


def _truncated(df: DataFrame) -> DataFrame:
    """Materialize + truncate lineage WITHOUT inheriting plan statistics
    (see module docstring: checkpoint-fed self-join loops square the
    inherited sizeInBytes until stats estimation OOMs the driver).

    The rebuild stays JVM-side (JavaRDD[Row] + schema -> new Dataset over
    the checkpointed blocks): ``spark.createDataFrame(ck.rdd, schema)``
    would round-trip every label row through Python pickle each round.
    The fresh LogicalRDD carries default stats; AQE re-plans each round's
    joins from true runtime shuffle sizes, so the conservative default
    costs nothing.

    The JVM handles (``_jsparkSession`` / ``_jdf``) are classic-PySpark
    only; under Spark Connect there is no in-process JVM, so fall back to
    the plain local checkpoint and accept the inherited-stats cost (bounded
    there: Connect's planner runs server-side with its own lifecycle)."""
    ck = df.localCheckpoint(eager=True)
    try:
        jdf = ck.sparkSession._jsparkSession.createDataFrame(
            ck._jdf.javaRDD(), ck._jdf.schema()
        )
    except AttributeError:  # Spark Connect: no _jsparkSession/_jdf
        return ck
    return DataFrame(jdf, ck.sparkSession)


def _truncated_counted(
    df: DataFrame, flag_col: str | None = None
) -> tuple[DataFrame, int]:
    """One-action round step: checkpoint ``df`` minus ``flag_col`` AND
    deliver ``count_if(flag_col)`` (with no flag, the row count) from that
    SAME materialization.

    ``Observation`` metrics are collected by the action inside
    ``localCheckpoint(eager=True)`` (Dataset.checkpoint runs under
    withAction), so change-detection costs zero extra jobs — the previous
    form ran a separate ``filter(changed).count()`` job per outer round and
    per doubling pass: ~2-8 jobs of pure fixed cost per round at 100 TB.
    The flag column is dropped ABOVE the observe, so it never reaches the
    checkpointed blocks but is still visible to the metric."""
    obs = Observation()
    n = F.count_if(F.col(flag_col)) if flag_col else F.count(F.lit(1))
    out = _truncated(
        df.observe(obs, n.alias("n")).drop(*[c for c in [flag_col] if c])
    )
    return out, int(obs.get["n"])


def _min_label_roots(pdf: pd.DataFrame) -> pd.DataFrame:
    """Union-find over ALL the ``(a, b)`` edges of one group: the grouped
    map's body. Ids are factorized in sorted order, so the smallest code
    of a set is its minimum label. Bulk union by min-code hooking plus
    pointer jumping to fixpoint: every pass that leaves an edge open
    re-points at least one root at a smaller one, so it terminates, and
    each pass is a few vectorized array operations over the edges."""
    n = len(pdf)
    codes, ids = pd.factorize(
        pd.concat([pdf["a"], pdf["b"]], ignore_index=True), sort=True
    )
    u, v = codes[:n], codes[n:]
    parent = np.arange(len(ids))
    while True:
        ru, rv = parent[u], parent[v]
        open_ = ru != rv
        if not open_.any():
            break
        # hook: each root of an open edge points at the smaller root
        np.minimum.at(
            parent, np.maximum(ru, rv)[open_], np.minimum(ru, rv)[open_]
        )
        while True:  # compress: every node points at its root
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    ids = np.asarray(ids, dtype=object)
    return pd.DataFrame({"conv_id": ids, "component": ids[parent]})


def connected_components(
    pairs: DataFrame, max_iter: int = 50, residual_cap: int = RESIDUAL_CAP
) -> DataFrame:
    """``(conv_id_a, conv_id_b)`` pairs -> ``(conv_id, component)`` for
    every node in any pair of two distinct ids (a self-pair is dropped).

    ``component`` = lexicographic min conv_id reachable via pair edges.
    ``residual_cap``: largest edge count finished on one worker (module
    docstring); 0 iterates any non-empty graph to convergence.
    """
    from fast_duplicate_finder_spark.plans.logging import get_logger

    edges, n_edges = _truncated_counted(
        pairs.select(
            F.col("conv_id_a").alias("a"), F.col("conv_id_b").alias("b")
        ).filter(F.col("a") != F.col("b"))
    )
    if n_edges <= residual_cap:
        get_logger().info(
            f"connected_components: {n_edges} edges finished on one worker",
            context="connected_components",
            data={"edges": n_edges, "rounds": 0, "residual_cap": residual_cap},
        )
        # lazy: the consumer's action runs the one-group union-find
        return edges.groupBy(F.lit(0).alias("_one")).applyInPandas(
            _min_label_roots, "conv_id string, component string"
        )

    sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = _truncated(sym.distinct())

    # Iteration shuffle sizing is left to AQE partition coalescing (enabled
    # in session.py): each label-propagation round is join+agg over |E|
    # rows, and AQE collapses the tiny post-shuffle partitions of small
    # graphs at runtime. (Round 1 temporarily shrank the session-global
    # spark.sql.shuffle.partitions instead — unsafe under concurrent
    # queries on the shared session.)
    labels = _truncated(
        sym.select(F.col("a").alias("conv_id"))
        .distinct()
        .withColumn("label", F.col("conv_id"))
    )

    converged = False
    for rounds in range(1, max_iter + 1):
        nbr = (
            sym.join(labels, sym.b == labels.conv_id, "inner")
            .groupBy("a")
            .agg(F.min("label").alias("nbr_min"))
        )
        with_nbr = labels.join(nbr, labels.conv_id == nbr.a, "left")
        # Union at the ROOT (the union-find "link"): a node that learns a
        # smaller label forwards it to its CURRENT root, whose whole
        # region then flips in one doubling pass below. Node-local
        # hash-min alone crawls one hop per round through a region whose
        # min sits at the far end (measured: a 300-node path with
        # shuffled ids blew the 50-round cap), because compression cannot
        # jump past a region's own minimum.
        upd = (
            with_nbr.filter(F.col("nbr_min") < F.col("label"))
            .groupBy(F.col("label").alias("r"))
            .agg(F.min("nbr_min").alias("rmin"))
        )
        stepped0 = with_nbr.select(
            "conv_id",
            F.least(
                F.col("label"), F.coalesce("nbr_min", F.col("label"))
            ).alias("label"),
            (F.col("nbr_min") < F.col("label")).alias("changed"),
        )
        labels, n_changed = _truncated_counted(
            stepped0.join(upd, stepped0.conv_id == upd.r, "left").select(
                "conv_id",
                F.least(
                    F.col("label"), F.coalesce("rmin", F.col("label"))
                ).alias("label"),
                (
                    F.coalesce(F.col("changed"), F.lit(False))
                    | (F.col("rmin") < F.col("label"))
                ).alias("changed"),
            ),
            "changed",
        )
        if n_changed == 0:
            converged = True
            break
        # Pointer doubling to FIXPOINT: synchronous label <- label(label)
        # halves every pointer chain per pass (every label IS a node id,
        # so the self-join always matches). Labels end fully compressed,
        # so the next neighbor-min merges component ROOTS, not chains.
        # The inner bound is NOT max_iter: doubling needs ~log2(chain)
        # passes, so 64 covers any chain a 64-bit row count could hold.
        jump_converged = False
        for _ in range(64):
            parent = labels.select(
                F.col("conv_id").alias("p"), F.col("label").alias("plabel")
            )
            labels, m = _truncated_counted(
                labels.join(parent, labels.label == parent.p, "inner").select(
                    "conv_id",
                    F.least("label", "plabel").alias("label"),
                    (F.col("plabel") < F.col("label")).alias("jchanged"),
                ),
                "jchanged",
            )
            if m == 0:
                jump_converged = True
                break
        if not jump_converged:
            raise RuntimeError(
                "connected_components pointer doubling did not reach a "
                "fixpoint in 64 passes — impossible for any real chain; "
                "labels are corrupt"
            )
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations — returning would silently report one component "
            "as several; raise max_iter"
        )
    get_logger().info(
        f"connected_components: {n_edges} edges over the cap converged in "
        f"{rounds} rounds",
        context="connected_components",
        data={"edges": n_edges, "rounds": rounds, "residual_cap": residual_cap},
    )
    return labels.select("conv_id", F.col("label").alias("component"))
