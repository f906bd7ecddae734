"""Connected components on a pair DataFrame — iterative min-label propagation.

Needed to turn verified near-duplicate *pairs* into duplicate *clusters*
(the reference never needs this: exact hashing partitions transitively for
free; near-dup similarity does not). No GraphFrames dependency — pure
DataFrame ops (hash-to-min label propagation; cf. BTS, ICDE 2024 in
PAPERS.md, and the classic large-star/small-star family).

Scale notes:
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

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


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


def _truncated_counted(df: DataFrame, flag_col: str) -> tuple[DataFrame, int]:
    """One-action round step: checkpoint ``df`` minus ``flag_col`` AND
    deliver ``count_if(flag_col)`` from that SAME materialization.

    ``Observation`` metrics are collected by the action inside
    ``localCheckpoint(eager=True)`` (Dataset.checkpoint runs under
    withAction), so change-detection costs zero extra jobs — the previous
    form ran a separate ``filter(changed).count()`` job per outer round and
    per doubling pass: ~2-8 jobs of pure fixed cost per round at 100 TB.
    The flag column is dropped ABOVE the observe, so it never reaches the
    checkpointed blocks but is still visible to the metric."""
    obs = Observation()
    out = _truncated(
        df.observe(obs, F.count_if(F.col(flag_col)).alias("n")).drop(flag_col)
    )
    return out, int(obs.get["n"])


def connected_components(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """``(conv_id_a, conv_id_b)`` pairs -> ``(conv_id, component)`` for
    every node in any pair of two distinct ids (a self-pair is dropped).

    ``component`` = lexicographic min conv_id reachable via pair edges.
    """
    edges = pairs.select(
        F.col("conv_id_a").alias("a"), F.col("conv_id_b").alias("b")
    ).filter(F.col("a") != F.col("b"))
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
    for _ in range(max_iter):
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

    return labels.select("conv_id", F.col("label").alias("component"))
