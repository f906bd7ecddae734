"""Phases 4-5: group (folder-analogue) duplicate detection.

Reference semantics:
* phase 4 — candidate folders get a canonical Merkle signature: the sorted
  ``;``-joined list of child items, each ``F:<name>:<filehash>`` or
  ``D:<name>:<childsig>``; folders group by signature, HAVING>=2
  (phase_4.go:20-106, calculate_folder_signature.go:33-64).
* uniqueness short-circuit — a folder containing ANY non-duplicate file or
  non-duplicable subfolder can never be duplicated; signature is null
  (calculate_folder_signature.go:39-55; negative cache at :41-44).
* phase 5 — nested suppression: only top-level duplicate folders are
  reported; file duplicates inside duplicate folders are removed from the
  file-level report (phase_5.go:42-148; Trie prefix filter :186-318).

Spark-first re-design (SURVEY.md §2.5 W2, §4):
* the reference's deepest-first memoized recursion becomes a bottom-up
  LOOP OVER DEPTH LEVELS — one groupBy per level, each folder computed
  exactly once (the memo is the previous level's DataFrame);
* the uniqueness short-circuit is a ``bool_and(item IS NOT NULL)`` per
  folder (C4's min-bool aggregate);
* the Trie prefix filter becomes an exploded-ancestor EQUI anti-join —
  shuffle-friendly, no theta join, no driver-side sorted scan
  (J2: theta-join avoidance);
* group paths come from path-style ``conv_id`` values (``grp/sub/conv``);
  the separator is config. Depth of real transcript hierarchies is tiny
  (<10), so the per-level driver loop costs a handful of jobs, each fully
  parallel.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fast_duplicate_finder_spark.config import PipelineConfig
from fast_duplicate_finder_spark.operators.exact_cascade import having_at_least


def _segs(col, sep: str = "/"):
    # F.split takes a Java regex; re.escape covers single-char separators
    return F.split(col, re.escape(sep))


def _parent(col, sep: str = "/"):
    s = _segs(col, sep)
    return F.when(
        F.size(s) > 1, F.array_join(F.slice(s, 1, F.size(s) - 1), sep)
    ).otherwise(F.lit(None))


def _name(col, sep: str = "/"):
    return F.element_at(_segs(col, sep), -1)


def _depth(col, sep: str = "/"):
    # depth 0 = top-level folder ("grp0"); a folder path with k segments
    # has depth k-1
    return F.size(_segs(col, sep)) - 1


def _proper_ancestors(col, sep: str = "/"):
    """Array of every proper ancestor path of ``col`` (empty for a
    top-level path) — the exploded-ancestor expression shared by nested
    suppression, file suppression and recursive sizes. sequence(1, 0)
    would DESCEND in Spark, hence the size > 1 guard."""
    segs = _segs(col, sep)
    return F.when(
        F.size(segs) > 1,
        F.transform(
            F.sequence(F.lit(1), F.size(segs) - 1),
            lambda i: F.array_join(F.slice(segs, F.lit(1), i), sep),
        ),
    ).otherwise(F.array().cast("array<string>"))


def folder_signatures(conv_hashes: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Bottom-up Merkle signatures for every folder implied by path-style
    conv_ids.

    ``conv_hashes``: (conv_id, fhash, is_dup) for ALL conversations —
    non-duplicate members are what trigger the uniqueness short-circuit.
    Returns (folder, sig) with sig NULL when the folder is not duplicable.
    """
    sep = cfg.group_sep
    files = conv_hashes.select(
        _parent(F.col("conv_id"), sep).alias("folder"),
        F.when(
            F.col("is_dup"),
            F.concat(F.lit("F:"), _name(F.col("conv_id"), sep), F.lit(":"),
                     F.col("fhash").cast("string")),
        ).alias("item"),  # null item == unique file == short-circuit
    ).filter(F.col("folder").isNotNull())

    max_depth_row = files.agg(
        F.max(_depth(F.col("folder"), sep))
    ).collect()[0][0]
    if max_depth_row is None:
        return conv_hashes.sparkSession.createDataFrame(
            [], "folder string, sig long"
        )

    all_sigs: DataFrame | None = None
    child_items: DataFrame | None = None  # (folder, item) from level d+1
    for d in range(int(max_depth_row), -1, -1):
        items = files.filter(_depth(F.col("folder"), sep) == d)
        if child_items is not None:
            items = items.union(child_items)
        level_sigs = items.groupBy("folder").agg(
            F.bool_and(F.col("item").isNotNull()).alias("all_dup"),
            F.xxhash64(
                F.concat_ws(";", F.sort_array(F.collect_list("item")))
            ).alias("raw_sig"),
            F.count("*").alias("n_items"),
        ).select(
            "folder",
            F.when(F.col("all_dup"), F.col("raw_sig")).alias("sig"),
        ).localCheckpoint(eager=True)
        all_sigs = level_sigs if all_sigs is None else all_sigs.union(level_sigs)
        # folders at level d become "D:" items of their parents at level d-1
        child_items = level_sigs.select(
            _parent(F.col("folder"), sep).alias("folder"),
            F.when(
                F.col("sig").isNotNull(),
                F.concat(F.lit("D:"), _name(F.col("folder"), sep), F.lit(":"),
                         F.col("sig").cast("string")),
            ).alias("item"),
        ).filter(F.col("folder").isNotNull())
    return all_sigs


def duplicate_folders(sigs: DataFrame) -> DataFrame:
    """Phase-4 grouping: duplicable folders sharing a signature (>=2)."""
    return having_at_least(
        sigs.filter(F.col("sig").isNotNull()), ["sig"]
    ).select("folder", "sig", F.col("group_n").alias("cluster_size"))


def suppress_nested(dup_folders: DataFrame, sep: str = "/") -> DataFrame:
    """Phase-5 nested suppression at GROUP granularity: a signature group
    survives iff at least one member is top-level (no proper ancestor is
    itself a duplicate folder), and a surviving group keeps ALL its
    members — including nested ones.

    This mirrors the reference exactly: identifyTopLevelPaths marks
    per-path top-level status (phase_5.go:125-148 sorted-prefix scan, our
    exploded-ancestor equi anti-join), then buildFilteredFolderMap keeps
    the ORIGINAL full group for every signature that has a top-level
    member (phase_5.go:155-183 ``LoadOrStore(sig, originalFolderDups
    [sig])``). A per-folder filter would silently shrink partially-nested
    groups (e.g. standalone folder z duplicating x's subfolder x/c: the
    reference reports {x/c, z} whole) and leave cluster_size
    inconsistent with the surviving membership.

    ("nested under any dup folder" == "nested under some top-level dup
    folder": the topmost duplicate ancestor of a nested path is itself
    top-level, so the two formulations mark identical path sets.)"""
    ancestors = dup_folders.select(
        "folder",
        F.explode(_proper_ancestors(F.col("folder"), sep)).alias("anc"),
    )
    nested = ancestors.join(
        dup_folders.select(F.col("folder").alias("anc")).distinct(),
        "anc",
        "left_semi",
    ).select("folder").distinct()
    top_members = dup_folders.join(nested, "folder", "left_anti")
    surviving_sigs = top_members.select("sig").distinct()
    return dup_folders.join(surviving_sigs, "sig", "left_semi")


def suppress_files_in_dup_folders(
    file_clusters: DataFrame, dup_folders: DataFrame, sep: str = "/"
) -> DataFrame:
    """Remove file-level duplicates living under any duplicate folder
    (phase_5.go:236-318 Trie filter -> exploded-ancestor anti-join)."""
    with_anc = file_clusters.withColumn(
        "anc", F.explode_outer(_proper_ancestors(F.col("conv_id"), sep))
    )
    suppressed = with_anc.join(
        dup_folders.select(F.col("folder").alias("anc")).distinct(),
        "anc",
        "left_semi",
    ).select("conv_id").distinct()
    return file_clusters.join(suppressed, "conv_id", "left_anti")


def folder_recursive_sizes(
    conv_sizes: DataFrame, folders: DataFrame, sep: str = "/"
) -> DataFrame:
    """(folder, size_chars) — recursive content size of each listed folder
    (generate_report.go:13-33's folderSize walk, re-expressed): every conv
    explodes to its proper ancestors, one equi-join against the folder list,
    one sum. No per-folder recursion, no theta join.

    ``conv_sizes``: (conv_id, size); ``folders``: any frame with a
    ``folder`` column."""
    with_anc = conv_sizes.select(
        "size",
        F.explode(_proper_ancestors(F.col("conv_id"), sep)).alias("folder"),
    )
    return (
        with_anc.join(folders.select("folder").distinct(), "folder")
        .groupBy("folder")
        .agg(F.sum("size").cast("long").alias("size_chars"))
    )


def folder_clusters(dup_folders: DataFrame) -> DataFrame:
    """Deterministic labels: cluster_id = min folder path per signature."""
    from pyspark.sql import Window

    w = Window.partitionBy("sig")
    return dup_folders.select(
        "folder",
        "sig",
        F.min("folder").over(w).alias("cluster_id"),
        "cluster_size",
    )
