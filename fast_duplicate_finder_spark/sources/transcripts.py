"""Transcript source + conversation assembly.

The reference's unit of dedup is a file (FileInfo{Path,Size},
backend/pkg/fastdupefinder/types/file_info.go:4-7). Ours is a
*conversation*: all rows of a transcripts table sharing ``conv_id``,
assembled by concatenating ``text`` in stable ``turn_idx`` order — the
per-row invariant from BASELINE.json input_hint (per-turn text equality
under stable turn ordering). Physical row order never matters
(turn_order_scramble fixture).

Scale design: each conversation is assembled once, into the pipeline's
``p1_docs`` checkpoint. The size prefilter, the exact cascade and the
near-dup features all read that one table, so the transcripts are read
and shuffled once per run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SEP = "\n"  # inter-turn separator in the assembled document


TRANSCRIPT_SCHEMA_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def load_transcripts(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame:
    """Read a transcripts table.

    ``fmt``: ``parquet`` (dir or file), ``iceberg`` (``path`` is a table
    name; requires the Iceberg runtime jar + catalog conf — the sandbox has
    neither, so this path is exercised on a real cluster), or ``json``
    (JSONL with the input_hint schema applied, no inference scan).
    """
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(path)
    if fmt == "json":
        return spark.read.schema(TRANSCRIPT_SCHEMA_DDL).json(path)
    return spark.read.parquet(path)


def assemble_conversations(transcripts: DataFrame) -> DataFrame:
    """Window-ordered concat -> ``(conv_id, doc, n_turns, size)``.

    ``array_sort(collect_list(struct(turn_idx, text)))`` sorts by the struct's
    first field (turn_idx), giving stable assembly regardless of physical row
    order. ``size`` is ``length(doc)``, the file-size analogue
    (file_info.go:6).
    """
    return (
        transcripts.groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("turn_idx"),
                                F.coalesce("text", F.lit("")).alias("text"),
                            )
                        )
                    ),
                    lambda s: s.getField("text"),
                ),
                SEP,
            ).alias("doc"),
            F.count("*").cast("int").alias("n_turns"),
        )
        .withColumn("size", F.length("doc"))
    )
