"""Phases 1-3: the exact-duplicate cascade.

Reference semantics (SURVEY.md §2.4, §4):
* phase 1 — group by size (+ optional turn-count, the FilterByFilename
  analogue), keep groups of >=2 (phase_1.go:98-136, HAVING at :127-132)
* phase 2 — group survivors by (size, partial hash), keep >=2
  (phase_2.go:18-80)
* phase 3 — group survivors by full hash, keep >=2 -> exact duplicate sets
  (phase_3.go:17-96)

Spark-first design notes:
* Each HAVING count>=2 is a window count over the group key — ONE shuffle
  per phase (groupBy+join would be two). Catalyst turns it into
  partial-agg -> exchange -> final.
* We keep the label representation ``(conv_id, key)`` end to end; member
  lists are only collected in the final small report (SURVEY.md §1.2) —
  ``collect_list`` of 10^12 paths is exactly what must never happen.
* The cascade itself is pipeline structure, not a Catalyst rewrite
  (run_finder.go:39-76): each phase prunes before the next gets more
  expensive. Phase 1 reads only (conv_id, size, n_turns), never the
  document. Its one composition is plans/pipeline.run_pipeline (p1_docs ->
  p1_prefilter -> p2_partial -> p3_exact), which checkpoints each phase.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fast_duplicate_finder_spark.config import PipelineConfig
from fast_duplicate_finder_spark.functions.hashing import full_hash, partial_hash


def having_at_least(df: DataFrame, keys: list[str]) -> DataFrame:
    """The four-times-repeated reference pruning step (A3): keep rows whose
    group (by ``keys``) has >= 2 members, counted in ``group_n``.
    Single-shuffle window count."""
    w = Window.partitionBy(*keys)
    return df.withColumn("group_n", F.count("*").over(w)).filter(
        F.col("group_n") >= 2
    )


def prefilter(stats: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Phase 1: size (+ turn-count) groups with >=2 members.

    Input: (conv_id, size, n_turns) — no documents touched.
    """
    keys = ["size", "n_turns"] if cfg.filter_by_turns else ["size"]
    # zero-size exclusion (phase_1.go:49 drops Size()==0): an empty
    # conversation is not a duplicate of another empty conversation in any
    # useful sense, and empties would otherwise flood one degenerate group
    nonzero = stats.filter(F.col("size") > 0)
    return having_at_least(nonzero, keys).select(
        "conv_id", "size", "n_turns", "group_n"
    )


def partial_hash_stage(docs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Phase 2: (size, partial-hash) groups with >=2 members.

    Input: assembled survivor docs (conv_id, doc, size). Output keeps the
    doc column so phase 3 reuses the assembly (checkpointed between phases
    by the pipeline)."""
    with_ph = docs.withColumn(
        "phash", partial_hash(F.col("doc"), F.col("size"), cfg)
    )
    return having_at_least(with_ph, ["size", "phash"])


def full_hash_stage(docs: DataFrame) -> DataFrame:
    """Phase 3: full-hash groups with >=2 members == exact duplicate sets."""
    with_fh = docs.withColumn("fhash", full_hash(F.col("doc")))
    return having_at_least(with_fh, ["fhash"])


def exact_clusters(full_hash_survivors: DataFrame) -> DataFrame:
    """Label exact-dup members: cluster_id = min conv_id of the full-hash
    group (deterministic, report-sortable like generate_report.go:75)."""
    w = Window.partitionBy("fhash")
    return full_hash_survivors.select(
        "conv_id",
        "fhash",
        "size",
        F.min("conv_id").over(w).alias("cluster_id"),
        F.col("group_n").alias("cluster_size"),
    )
