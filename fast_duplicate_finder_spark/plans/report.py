"""Report generation — the reference's ReportOutput re-expressed.

Parity targets (types/report_types/report_types.go:7-35,
helpers/generate_report.go):
* Summary{fileSets, folderSets, wastedSpaceBytes} — wasted space is
  sum(size * (n-1)) per duplicate set (generate_report.go:45-77); our
  "bytes" are characters of assembled conversations (documented).
* FileDuplicates/FolderDuplicates sorted deterministically by hash /
  signature (generate_report.go:75,101) — golden tests depend on it.
* Text sink "Set N (...): size, wasted, paths" (helpers/output/
  stringify.go:13-57) and JSON sink (:60-70) — driver-side on SMALL
  outputs only: at 10^12 scale the full member lists stay in tables;
  the collected report is capped.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fast_duplicate_finder_spark.functions.hashing import hash_hex


def summarize(
    exact_clusters: DataFrame, top_folders: DataFrame, near_clusters: DataFrame
) -> DataFrame:
    """One-row summary table (file_sets, folder_sets, near_dup_clusters,
    wasted_space_chars)."""
    per_set = (
        exact_clusters.groupBy("cluster_id")
        .agg(F.first("size").alias("size"), F.count("*").alias("n"))
        .agg(
            F.count("*").alias("file_sets"),
            F.coalesce(
                F.sum(F.col("size") * (F.col("n") - 1)), F.lit(0)
            ).alias("wasted_space_chars"),
        )
    )
    # single job: the side counts are 1-row lazy aggregates cross-joined in
    # (agg-without-groupBy always yields exactly one row, even on empty
    # input), so the caller's one collect runs everything as one plan — the
    # old form ran two extra driver-side count() actions per report
    return (
        per_set.crossJoin(
            top_folders.agg(F.count_distinct("cluster_id").alias("folder_sets"))
        )
        .crossJoin(
            near_clusters.agg(
                F.count_distinct("component").alias("near_dup_clusters")
            )
        )
        .select(
            "file_sets", "folder_sets", "near_dup_clusters",
            "wasted_space_chars",
        )
    )


def file_sets_report(exact_clusters: DataFrame) -> DataFrame:
    """The first 1,000 deterministically sorted duplicate sets with member
    lists — member lists are ONLY collected here, at the small report edge
    (SURVEY.md §1.2)."""
    return (
        exact_clusters.groupBy("cluster_id")
        .agg(
            hash_hex(F.first("fhash")).alias("hash12"),
            F.first("size").alias("size_chars"),
            F.sort_array(F.collect_list("conv_id")).alias("members"),
            F.count("*").alias("n_members"),
        )
        .withColumn("wasted_chars", F.col("size_chars") * (F.col("n_members") - 1))
        .orderBy("hash12")
        .limit(1000)
    )


def folder_sets_report(
    top_folders: DataFrame,
    folder_sizes: DataFrame | None = None,
) -> DataFrame:
    """The first 1,000 folder duplicate sets; with ``folder_sizes`` (from
    operators.group_dedup.folder_recursive_sizes) each set also reports the
    recursive member size and wasted space — FolderSet.sizeBytes parity
    (generate_report.go:13-33). Members of a set share a Merkle signature,
    hence identical recursive content; max() is just a deterministic pick."""
    tf = top_folders
    if folder_sizes is not None:
        tf = tf.join(folder_sizes, "folder", "left")
    aggs = [
        hash_hex(F.first("sig")).alias("sig12"),
        F.sort_array(F.collect_list("folder")).alias("members"),
        F.count("*").alias("n_members"),
    ]
    if folder_sizes is not None:
        aggs.append(
            F.coalesce(F.max("size_chars"), F.lit(0)).alias("size_chars")
        )
    out = tf.groupBy("cluster_id").agg(*aggs)
    if folder_sizes is not None:
        out = out.withColumn(
            "wasted_chars", F.col("size_chars") * (F.col("n_members") - 1)
        )
    return out.orderBy("sig12").limit(1000)


def stringify_report(
    file_sets: list, folder_sets: list, summary: dict,
    elapsed_seconds: float | None = None,
) -> str:
    """Text sink (stringify.go:13-57 analogue). Wasted space is shown both
    exact and humanized (F7); elapsed time is appended Go-Duration-style
    when provided (F6, status.go:72)."""
    from fast_duplicate_finder_spark.functions.format import (
        format_elapsed,
        humanize_bytes,
    )

    lines = []
    for i, s in enumerate(file_sets, 1):
        lines.append(
            f"Set {i} ({s['hash12']}): size={s['size_chars']} chars, "
            f"wasted={s['wasted_chars']}, members={', '.join(s['members'])}"
        )
    for i, s in enumerate(folder_sets, 1):
        size = (
            f" size={s['size_chars']} chars,"
            if "size_chars" in s
            else ""
        )
        lines.append(
            f"GroupSet {i} ({s['sig12']}):{size} "
            f"members={', '.join(s['members'])}"
        )
    wasted = summary["wasted_space_chars"]
    lines.append(
        f"Summary: {summary['file_sets']} duplicate sets, "
        f"{summary['folder_sets']} group sets, "
        f"{summary['near_dup_clusters']} near-dup clusters, "
        f"{wasted} wasted chars ({humanize_bytes(wasted)})"
    )
    if elapsed_seconds is not None:
        lines.append(f"Elapsed: {format_elapsed(elapsed_seconds)}")
    return "\n".join(lines)


def jsonify_report(file_sets: list, folder_sets: list, summary: dict) -> str:
    """JSON sink (stringify.go:60-70 analogue) wrapped in the library
    envelope {success, error, report} (library/library.go:94-102)."""
    return json.dumps(
        {
            "success": True,
            "error": "",
            "report": {
                "summary": summary,
                "fileDuplicates": file_sets,
                "folderDuplicates": folder_sets,
            },
        },
        indent=2,
        default=str,
    )
