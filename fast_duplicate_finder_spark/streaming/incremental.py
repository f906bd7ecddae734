"""Structured Streaming legs: incremental dedup, clustering, sessionization.

The reference is strictly batch (SURVEY.md §2.9), but a training-data
corpus *arrives* incrementally. These legs keep the batch operators'
results current without reprocessing history.

As the reference's phases 1-3 repeat one group-by-key step with a new key,
every leg runs ONE epoch-state step per ``foreachBatch`` micro-batch:

1. key the batch's rows and materialize them once (``localCheckpoint``);
2. read PRIOR state, every epoch but the current one (``_prior_state``): a
   replayed epoch never sees its own half-write, with no epoch-probe job;
3. near-dup legs cap hot state buckets (``_cap_state``) into counted
   ``is_overflow`` marker rows of the pair log, never silently dropped;
4. write the pair log, then the state, each a dynamic overwrite of exactly
   the epoch's own partitions (``_write_epoch``), so an at-least-once
   replay, even one that crashed between the writes, is byte-identical.

State tables are parquet partitioned by epoch_id alone. A hash-prefix
sub-partitioning would prune nothing: a batch of more than ~300 distinct
keys touches all of 64 prefixes, and every prefix multiplies the file
count. At scale this layout is the Iceberg MERGE target. The legs differ
in their keys:

* ``run_incremental_dedup`` — exact: xxhash64 of the assembled
  conversation. State holds one row per first-seen hash, so it is not
  capped; hashes seen before or repeated in the batch go to the dup log.
* ``run_incremental_simhash`` — (chunk_id, chunk_val) pigeonhole chunks of
  the 64-bit SimHash; signatures ride the rows, so the Hamming verify is
  inline.
* ``run_incremental_lsh`` — (band_id, band_hash) MinHash bands, verified
  by exact Jaccard against a second state table of shingle sets keyed by
  conv id.
* ``run_incremental_clusters`` — conv id over a stream of duplicate pairs
  (any leg's output): an epoch-append-only union-find of ``base`` labels
  plus a ``merges`` log, with connected_components run over only the
  touched subgraph.
* ``sessionize`` — event-time session windows with a watermark; the same
  expression on a batch DataFrame and on a stream.

Near-dup pairs equal the batch operators' on an uncapped corpus, each
emitted once, at its later member's epoch. ``compact_*_state`` folds a
leg's epochs into one reserved epoch by a crash-safe rewrite-and-swap and
refuses to run while the leg's checkpoint holds an uncommitted batch;
every stream start finishes a swap that crashed between its renames.
"""

from __future__ import annotations

import os
import shutil
from functools import partial

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from fast_duplicate_finder_spark.operators.connected_components import (
    _truncated_counted,
    connected_components,
)
from fast_duplicate_finder_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA_DDL,
    assemble_conversations,
)
from fast_duplicate_finder_spark.storage import _require_local_fs


def stream_transcripts(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    schema: str = TRANSCRIPT_SCHEMA_DDL,
) -> DataFrame:
    """File-stream source over transcript (or ``schema``-shaped) parquet.
    ``path`` follows Spark's file-source listing rules: a directory of FLAT
    parquet files, or a glob over writer-produced subdirectories
    (``.../in/*``). A plain directory whose parquet files sit one level
    down (each ``df.write.parquet`` makes a subdirectory) would stream
    ZERO rows, silently, so a local one raises ValueError instead."""
    if os.path.isdir(path):
        names = [n for n in os.listdir(path) if not n.startswith(("_", "."))]
        flat = any(
            n.endswith(".parquet") and os.path.isfile(os.path.join(path, n))
            for n in names
        )
        nested = [
            n for n in names
            if "=" not in n and _has_parts(os.path.join(path, n))
        ]
        if nested and not flat:
            raise ValueError(
                f"{path!r} holds no parquet file at its top level but its "
                f"subdirectory {nested[0]!r} does; stream the glob "
                f"{os.path.join(path, '*')!r} instead"
            )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def _has_parts(path: str) -> bool:
    """True when ``path`` holds at least one parquet part file. The
    existence of the DIRECTORY is not enough: a batch whose write produced
    zero rows leaves _SUCCESS (and, for partitioned writes, nothing else),
    and ``spark.read.parquet`` then fails schema inference forever — the
    same hazard the dup-log readers guard against (read_dup_log), applied
    to every state table.

    Hidden entries (``_temporary``, ``.spark-staging-*``, dot-files) are
    pruned exactly as Spark's own reader prunes them: a batch killed MID
    write leaves only uncommitted parts under ``_temporary/``, and counting
    those would send the replay into a ``spark.read.parquet`` that lists
    zero visible files and fails schema inference on every trigger."""
    for _root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if any(
            f.endswith(".parquet") and not f.startswith(("_", "."))
            for f in files
        ):
            return True
    return False


# ---------------------------------------------------------------------------
# The epoch-state step every leg is built from
# ---------------------------------------------------------------------------


def _prior_state(
    spark: SparkSession, path: str, epoch_id: int
) -> DataFrame | None:
    """Prior epochs' rows of the state table at ``path``; ``None`` while
    the table holds no part file. Excluding the current epoch (a partition
    filter) is the replay contract: a re-run epoch computes its rows from
    the same prior state, never from its own half-write."""
    if not _has_parts(path):
        return None
    return spark.read.parquet(path).filter(F.col("epoch_id") != epoch_id)


def _overflow_markers(
    rows: DataFrame, key: str, label: str, count: Column, value_col: str
) -> DataFrame:
    """One pair-log marker row per ``key`` value of capped ``rows``, their
    ``count`` in ``value_col``. The explicit ``is_overflow`` flag keeps log
    consumers from ever mistaking a counter row for a pair; the
    ``'_overflow'`` id convention stays for grep-ability."""
    return rows.groupBy(key).agg(count.alias(value_col)).select(
        F.lit("_overflow").alias("conv_id_a"),
        F.concat(F.lit(label), F.col(key)).alias("conv_id_b"),
        value_col,
        F.lit(True).alias("is_overflow"),
    )


def _cap_state(
    state: DataFrame, bucket: list[str], cap: int
) -> tuple[DataFrame, DataFrame]:
    """(state rows in ``bucket``s of at most ``cap`` rows, the rows of
    hotter buckets — for the caller's overflow markers)."""
    state = state.withColumn(
        "bn", F.count("*").over(Window.partitionBy(*bucket))
    )
    return state.filter(F.col("bn") <= cap), state.filter(F.col("bn") > cap)


def _state_matches(
    state: DataFrame, batch: DataFrame, key: list[str], payload=()
) -> DataFrame:
    """The cross-batch equi-join: state rows x batch rows sharing ``key``,
    as (sc, bc, <payload>_s, <payload>_b, key...), self-pairs dropped."""

    def side(df: DataFrame, s: str) -> DataFrame:
        return df.select(
            F.col("conv_id").alias(f"{s}c"),
            *[F.col(p).alias(f"{p}_{s}") for p in payload],
            *key,
        )

    return (
        side(state, "s")
        .join(side(batch, "b"), key)
        .filter(F.col("sc") != F.col("bc"))
    )


def _cross_pairs(matches: DataFrame, metric) -> DataFrame:
    """Verified cross-batch pairs as (conv_id_a < conv_id_b, ``metric``)."""
    return matches.select(
        F.least("sc", "bc").alias("conv_id_a"),
        F.greatest("sc", "bc").alias("conv_id_b"),
        metric,
    ).withColumn("is_overflow", F.lit(False))


def _write_epoch(df: DataFrame, epoch_id: int, path: str) -> None:
    """Write ``df`` as epoch ``epoch_id`` of the table at ``path``,
    partitioned by epoch_id. The dynamic overwrite replaces exactly this
    epoch's partition, so a replayed epoch (including one that crashed
    between its writes) rewrites its rows instead of appending a second
    copy."""
    df.withColumn("epoch_id", F.lit(epoch_id)).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("epoch_id").parquet(path)


def _leg_dirs(work_dir: str, *names: str) -> list[str]:
    """The leg's directories under a local ``work_dir``, created."""
    _require_local_fs(work_dir)
    dirs = [os.path.join(work_dir, n) for n in names]
    for d in dirs:
        os.makedirs(d, exist_ok=True)
    return dirs


def _start_stream(
    stream: DataFrame, batch_fn, ckpt: str, available_now: bool
):
    """Run ``batch_fn(df, epoch_id)`` on every micro-batch of ``stream``
    under the checkpoint ``ckpt``; with ``available_now``, over the input
    present at start, then stop. Returns the StreamingQuery."""
    writer = stream.writeStream.foreachBatch(batch_fn).option(
        "checkpointLocation", ckpt
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Incremental exact dedup
# ---------------------------------------------------------------------------


def _dedup_batch(
    batch: DataFrame, epoch_id: int, state_dir: str, dups_dir: str
) -> None:
    """One micro-batch: assemble -> hash -> split into (seen = duplicate,
    unseen = new state). Runs on the executors; only paths touch the
    driver."""
    spark = batch.sparkSession
    hashed = (
        assemble_conversations(batch)
        .select("conv_id", F.xxhash64("doc").alias("fhash"), "size")
        .localCheckpoint(eager=True)
    )  # reused by two joins
    state_data = os.path.join(state_dir, "data")
    seen = _prior_state(spark, state_data, epoch_id)
    new_rows = (
        hashed.join(seen.select("fhash"), "fhash", "left_anti")
        if seen is not None
        else hashed
    )
    # first occurrence per hash inside the batch becomes state; the rest are
    # intra-batch duplicates
    w_first = F.min("conv_id").over(Window.partitionBy("fhash"))
    tagged = new_rows.withColumn("first_conv_id", w_first)
    dups = tagged.filter(F.col("conv_id") != F.col("first_conv_id"))
    if seen is not None:
        dups = (
            hashed.join(
                seen.select("fhash", F.col("conv_id").alias("first_conv_id")),
                "fhash",
            )
            .select("conv_id", "fhash", "size", "first_conv_id")
            .unionByName(dups)
        )
    _write_epoch(
        dups.select("conv_id", "fhash", "size", "first_conv_id"),
        epoch_id,
        os.path.join(dups_dir, "data"),
    )
    firsts = tagged.filter(F.col("conv_id") == F.col("first_conv_id"))
    _write_epoch(
        firsts.select("fhash", "conv_id", "size"), epoch_id, state_data
    )


def run_incremental_dedup(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start (and with ``available_now`` run to completion) the incremental
    dedup stream. Returns the StreamingQuery."""
    state_dir, dups_dir = _leg_dirs(work_dir, "state", "dups")
    _recover_swap(os.path.join(state_dir, "data"))
    return _start_stream(
        stream_transcripts(spark, input_path, max_files_per_trigger),
        lambda df, eid: _dedup_batch(df, eid, state_dir, dups_dir),
        os.path.join(work_dir, "_stream_checkpoint"),
        available_now,
    )


DUP_LOG_SCHEMA = (
    "conv_id string, fhash bigint, size int, first_conv_id string, "
    "epoch_id bigint"
)


def _read_log(
    spark: SparkSession, work_dir: str, name: str, schema: str
) -> DataFrame:
    """The ``name`` log of a leg, read with its ``schema``. A
    duplicate-free stream writes only _SUCCESS markers (no part files, so
    no inferable schema) and before the first batch the dir does not
    exist — both mean an EMPTY log, not an error."""
    _require_local_fs(work_dir)
    path = os.path.join(work_dir, name, "data")
    if not _has_parts(path):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path)


def read_dup_log(spark: SparkSession, work_dir: str) -> DataFrame:
    """(conv_id, fhash, size, first_conv_id, epoch_id) of every duplicate
    seen (see _read_log for the empty-log contract)."""
    return _read_log(spark, work_dir, "dups", DUP_LOG_SCHEMA)


def sessionize(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Event-time session windows per ``user_id`` over ``ts``. Works on
    batch and streaming DataFrames alike; on a stream the watermark bounds
    session state."""
    e = events
    if e.isStreaming:
        e = e.withWatermark("ts", watermark)
    return e.groupBy(
        "user_id", F.session_window("ts", gap).alias("session")
    ).agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


# ---------------------------------------------------------------------------
# Incremental near-dup (SimHash fuzz pass)
# ---------------------------------------------------------------------------

NEAR_PAIR_SCHEMA = (
    "conv_id_a string, conv_id_b string, hamming int, is_overflow boolean, "
    "epoch_id bigint"
)


def _simhash_batch_fn(
    batch: DataFrame, epoch_id: int, state_dir: str, pairs_dir: str, cfg
) -> None:
    """One micro-batch of the incremental SimHash fuzz pass.

    State is the EXPLODED pigeonhole index: one row per (chunk_id,
    chunk_val) of every conversation's 64-bit signature, partitioned by
    epoch_id.

    Pairs per batch = (new x new) through the shared capped+salted
    generator (simhash_candidate_pairs, signatures riding as payload) +
    (new x state) as a pigeonhole equi-join with the 8-byte signatures
    carried on BOTH sides' rows, hamming verified inline — no signature
    re-attach join, no state-side re-read of documents. Hot state-side
    buckets become chunk_id-keyed overflow markers.
    """
    from fast_duplicate_finder_spark.functions.simhash import (
        hamming64,
        simhash_candidate_pairs,
        simhash_chunks,
        simhash_udf,
    )
    from fast_duplicate_finder_spark.operators.neardup import (
        shingle_features,
    )

    spark = batch.sparkSession
    docs = assemble_conversations(batch)
    sims = (
        shingle_features(docs, cfg, even_exchange=False)
        .filter(F.size("shset") > 0)
        .select("conv_id", simhash_udf("shset").alias("simhash"))
        .localCheckpoint(eager=True)  # feeds chunks + intra-batch self-join
    )
    n_chunks = cfg.simhash_hamming + 1
    chunks = sims.select(
        "conv_id",
        "simhash",
        F.posexplode(simhash_chunks(F.col("simhash"), n_chunks)).alias(
            "chunk_id", "chunk_val"
        ),
    ).localCheckpoint(eager=True)  # state join + state write

    intra, intra_ovf = simhash_candidate_pairs(
        sims,
        cfg.simhash_hamming,
        max_bucket=cfg.max_band_bucket,
        n_salt=cfg.band_salt_buckets,
        even_exchange=False,  # micro-batch: let AQE coalesce-to-few
    )
    # INTRA-batch capped buckets are counted too — the batch pipeline
    # checkpoints them as the p7b overflow phase; the stream has no phase
    # table, so they ride the pair log like the state-side markers
    pairs = intra.withColumn("is_overflow", F.lit(False)).unionByName(
        _overflow_markers(
            intra_ovf,
            "chunk_id",
            "intra_chunk_",
            F.sum("bucket_n").cast("int"),
            "hamming",
        )
    )
    state_data = os.path.join(state_dir, "data")
    state = _prior_state(spark, state_data, epoch_id)
    if state is not None:
        kept, hot = _cap_state(
            state, ["chunk_id", "chunk_val"], cfg.max_band_bucket
        )
        state_markers = _overflow_markers(
            hot, "chunk_id", "chunk_", F.count("*").cast("int"), "hamming"
        )
        cross = _cross_pairs(
            _state_matches(
                kept, chunks, ["chunk_id", "chunk_val"], ["simhash"]
            ),
            hamming64(F.col("simhash_s"), F.col("simhash_b")).alias("hamming"),
        ).filter(F.col("hamming") <= cfg.simhash_hamming)
        pairs = pairs.unionByName(cross).unionByName(state_markers)
    _write_epoch(pairs.distinct(), epoch_id, os.path.join(pairs_dir, "data"))
    _write_epoch(chunks, epoch_id, state_data)


def run_incremental_simhash(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    cfg=None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start (and with ``available_now`` run to completion) the incremental
    SimHash near-dup stream. Returns the StreamingQuery. Pair semantics
    equal the batch operator's on an uncapped corpus: every pair within
    ``cfg.simhash_hamming`` bits whose members ever co-exist in the stream
    is emitted exactly once (at the later member's epoch)."""
    from fast_duplicate_finder_spark.config import PipelineConfig

    cfg = cfg or PipelineConfig()
    state_dir, pairs_dir = _leg_dirs(work_dir, "sim_state", "near_pairs")
    _recover_swap(os.path.join(state_dir, "data"))
    return _start_stream(
        stream_transcripts(spark, input_path, max_files_per_trigger),
        lambda df, eid: _simhash_batch_fn(df, eid, state_dir, pairs_dir, cfg),
        os.path.join(work_dir, "_simhash_stream_checkpoint"),
        available_now,
    )


def read_near_pair_log(spark: SparkSession, work_dir: str) -> DataFrame:
    """Every near-dup pair the stream has emitted (see _read_log for the
    empty-log contract)."""
    return _read_log(spark, work_dir, "near_pairs", NEAR_PAIR_SCHEMA)


# ---------------------------------------------------------------------------
# Incremental near-dup (MinHash/LSH + exact-Jaccard verify)
# ---------------------------------------------------------------------------

LSH_PAIR_SCHEMA = (
    "conv_id_a string, conv_id_b string, jaccard double, is_overflow boolean, "
    "epoch_id bigint"
)


def _lsh_batch_fn(
    batch: DataFrame, epoch_id: int, state_dir: str, pairs_dir: str, cfg
) -> None:
    """One micro-batch of the incremental MinHash/LSH near-dup pass — the
    WIDE-payload streaming variant (cf. `_simhash_batch_fn`, whose 8-byte
    signatures ride the join rows). Two state tables:

    * ``bands/data`` — (conv_id, band_id, band_hash) rows partitioned by
      epoch_id: candidate generation.
    * ``feats/data`` — (conv_id, shset) partitioned by epoch_id: the
      exact-Jaccard verify payload, joined to the candidates that survive
      the capped band join by the state member's conv id — shingle sets
      are too wide to carry through the band join (the measured width
      rule, PLANS.md).

    Intra-batch pairs go through `operators/neardup.minhash_pairs`'s exact
    path (capped+salted band join, array_intersect verify); cross-batch
    candidates come from the capped band-state join, verified with the
    same exact Jaccard."""
    from fast_duplicate_finder_spark.functions.minhash import (
        make_minhash_udf,
    )
    from fast_duplicate_finder_spark.operators.lsh import (
        candidate_pairs,
        lsh_band_rows,
    )
    from fast_duplicate_finder_spark.operators.neardup import (
        shingle_features,
    )
    from fast_duplicate_finder_spark.operators.verify import (
        _jaccard,
        verify_jaccard,
    )

    spark = batch.sparkSession
    docs = assemble_conversations(batch)
    feats = (
        shingle_features(docs, cfg, even_exchange=False)
        .filter(F.size("shset") > 0)
        .select("conv_id", "shset")
        .localCheckpoint(eager=True)  # verify payload for BOTH pair legs
    )
    mh = make_minhash_udf(cfg.lsh_perms_used, cfg.minhash_seed)
    sigs = feats.select("conv_id", mh("shset").alias("minhash"))
    # feeds the self-join, the state join and the state write
    bands = lsh_band_rows(sigs, cfg).localCheckpoint(eager=True)

    cands, overflow = candidate_pairs(
        bands, cfg, even_exchange=False  # micro-batch: AQE coalesce-to-few
    )
    intra = verify_jaccard(cands, feats, cfg.jaccard_tau).withColumn(
        "is_overflow", F.lit(False)
    )
    pairs = intra.unionByName(
        _overflow_markers(
            overflow, "band_id", "band_", F.count("*").cast("double"), "jaccard"
        )
    )

    bands_data = os.path.join(state_dir, "bands", "data")
    feats_data = os.path.join(state_dir, "feats", "data")
    # BOTH state tables must exist before the cross-batch path runs: if the
    # first epoch crashed between the bands write and the feats write, the
    # replay would otherwise read a feats dir that does not exist yet and
    # wedge the stream forever. With only this epoch's (excluded) rows in
    # bands state, skipping the cross path loses nothing.
    sbands = (
        _prior_state(spark, bands_data, epoch_id)
        if _has_parts(feats_data)
        else None
    )
    if sbands is not None:
        kept, hot = _cap_state(
            sbands, ["band_id", "band_hash"], cfg.max_band_bucket
        )
        state_markers = _overflow_markers(
            hot, "band_id", "state_band_", F.count("*").cast("double"), "jaccard"
        )
        cross_cand = (
            _state_matches(kept, bands, ["band_id", "band_hash"])
            .select("sc", "bc")
            .distinct()
            .localCheckpoint(eager=True)
        )  # few rows: sizes the two verify joins
        sfeats = _prior_state(spark, feats_data, epoch_id)
        # two payload joins, unlike verify_jaccard's one payload table: the
        # state member's set comes from state, the batch member's from the
        # batch
        verified = (
            cross_cand.join(
                sfeats.select(
                    F.col("conv_id").alias("sc"),
                    F.col("shset").alias("shset_s"),
                ),
                "sc",
            )
            .join(
                feats.select(
                    F.col("conv_id").alias("bc"),
                    F.col("shset").alias("shset_b"),
                ),
                "bc",
            )
            .withColumn("jaccard", _jaccard("shset_s", "shset_b"))
            .filter(F.col("jaccard") >= cfg.jaccard_tau)
        )
        pairs = pairs.unionByName(
            _cross_pairs(verified, "jaccard")
        ).unionByName(state_markers)

    _write_epoch(pairs.distinct(), epoch_id, os.path.join(pairs_dir, "data"))
    _write_epoch(bands, epoch_id, bands_data)
    _write_epoch(feats, epoch_id, feats_data)


def run_incremental_lsh(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    cfg=None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start (and with ``available_now`` run to completion) the incremental
    MinHash/LSH near-dup stream. Returns the StreamingQuery."""
    from fast_duplicate_finder_spark.config import PipelineConfig

    cfg = cfg or PipelineConfig()
    state_dir, pairs_dir = _leg_dirs(work_dir, "lsh_state", "lsh_pairs")
    for table in ("bands", "feats"):
        _recover_swap(os.path.join(state_dir, table, "data"))
    return _start_stream(
        stream_transcripts(spark, input_path, max_files_per_trigger),
        lambda df, eid: _lsh_batch_fn(df, eid, state_dir, pairs_dir, cfg),
        os.path.join(work_dir, "_lsh_stream_checkpoint"),
        available_now,
    )


def read_lsh_pair_log(spark: SparkSession, work_dir: str) -> DataFrame:
    """Every MinHash/LSH near-dup pair the stream has emitted (see
    _read_log for the empty-log contract)."""
    return _read_log(spark, work_dir, "lsh_pairs", LSH_PAIR_SCHEMA)


# ---------------------------------------------------------------------------
# Incremental clustering: duplicate-pair stream -> cluster labels
# ---------------------------------------------------------------------------

PAIR_STREAM_SCHEMA = "conv_id_a string, conv_id_b string, is_overflow boolean"

CLUSTER_LABEL_SCHEMA = "conv_id string, label string"


def _follow_merges(df: DataFrame, col: str, merges: DataFrame) -> DataFrame:
    """``df`` with every ``col`` value that is a ``merges.label_from``
    moved one hop, to its ``label_to``."""
    moved = df.join(
        merges.select(
            F.col("label_from").alias(col), F.col("label_to").alias("_next")
        ),
        col,
        "left",
    )
    return moved.select(
        *[F.coalesce("_next", c).alias(c) if c == col else c for c in df.columns]
    )


def _clusters_batch(
    batch: DataFrame, epoch_id: int, base_dir: str, merges_dir: str
) -> None:
    """One micro-batch of duplicate PAIRS -> incrementally-maintained
    cluster labels, without re-running global connected components.

    State is an epoch-append-only union-find:

    * ``base`` (conv_id, label, epoch_id) — each conv's label at FIRST
      sight (the component minimum at that time);
    * ``merges`` (label_from, label_to, epoch_id) — one edge per
      component whose minimum dropped when batches connected it to a
      smaller id. Edges always point old-root -> new-root, so current
      labels are the merge DAG's closure over base labels.

    Per batch: resolve the touched convs' current roots (_resolve_labels
    over the prior epochs' merges), run the EXISTING connected_components
    operator over just the touched subgraph — the batch's pairs plus one
    (conv -> current root) edge per known conv, so each current root
    stands in for its entire membership and merging relabels every member
    transitively — then append base rows for first-seen convs and merge
    edges for dethroned roots.
    """
    spark = batch.sparkSession
    pairs = batch
    if "is_overflow" in pairs.columns:
        pairs = pairs.filter(~F.coalesce(F.col("is_overflow"), F.lit(False)))
    pairs = (
        pairs.select("conv_id_a", "conv_id_b")
        # marker convention, BOTH sides: our own legs put '_overflow' in
        # conv_id_a, but a foreign pair feed (or a flag-null row) may order
        # the marker second — a '_'-prefixed id must never be clustered as
        # a real conv, let alone become a component label
        .filter(~F.col("conv_id_a").startswith("_"))
        .filter(~F.col("conv_id_b").startswith("_"))
        .filter(F.col("conv_id_a") != F.col("conv_id_b"))
        .distinct()
    )
    obs = Observation()
    ids = (
        pairs.select(F.col("conv_id_a").alias("conv_id"))
        .union(pairs.select(F.col("conv_id_b")))
        .distinct()
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )  # known split + CC input
    if not int(obs.get["n"] or 0):
        return  # marker-only/empty batch: nothing to write
    base_data = os.path.join(base_dir, "data")
    merges_data = os.path.join(merges_dir, "data")
    known = _prior_state(spark, base_data, epoch_id)
    edges = pairs
    if known is not None:
        known = _resolve_labels(
            spark,
            merges_data,
            known.select("conv_id", "label").join(ids, "conv_id"),
            exclude_epoch=epoch_id,
        ).localCheckpoint(eager=True)  # edges + merge rows + anti-join
        edges = edges.unionByName(
            known.filter(F.col("conv_id") != F.col("label")).select(
                F.col("conv_id").alias("conv_id_a"),
                F.col("label").alias("conv_id_b"),
            )
        )
    comp = connected_components(edges)  # (conv_id, component=min id)
    if known is not None:  # both writes below read it: run CC once
        comp = comp.localCheckpoint(eager=True)
    new_ids = (
        ids.join(known.select("conv_id"), "conv_id", "left_anti")
        if known is not None
        else ids
    )
    base_new = new_ids.join(comp, "conv_id").select(
        "conv_id", F.col("component").alias("label")
    )
    _write_epoch(base_new, epoch_id, base_data)
    if known is not None:
        merges_new = (
            known.select(F.col("label").alias("label_from"))
            .distinct()
            .join(
                comp.select(
                    F.col("conv_id").alias("label_from"),
                    F.col("component").alias("label_to"),
                ),
                "label_from",
            )
            .filter(F.col("label_from") != F.col("label_to"))
        )
        _write_epoch(merges_new, epoch_id, merges_data)


def run_incremental_clusters(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start (and with ``available_now`` run to completion) the incremental
    clustering stream over a feed of duplicate pairs — any other leg's
    pair output re-published as flat parquet files of
    ``(conv_id_a, conv_id_b[, is_overflow])`` (marker rows and ``_``-prefixed
    ids are skipped). ``input_path`` follows the stream_transcripts listing
    rules (flat files or a glob). Returns the StreamingQuery; read results
    with read_cluster_labels."""
    base_dir, merges_dir = _leg_dirs(work_dir, "base", "merges")
    _recover_swap(
        os.path.join(base_dir, "data"),
        _drop_merge_log(os.path.join(merges_dir, "data")),
    )
    return _start_stream(
        stream_transcripts(
            spark, input_path, max_files_per_trigger, PAIR_STREAM_SCHEMA
        ),
        lambda df, eid: _clusters_batch(df, eid, base_dir, merges_dir),
        os.path.join(work_dir, "_stream_checkpoint"),
        available_now,
    )


def _compressed_merge_map(
    spark: SparkSession, merges_data: str, exclude_epoch: int | None = None
) -> DataFrame | None:
    """(label_from -> current root) for every label that ever lost a merge:
    path-doubling over the whole merge DAG — both join sides compress each
    round, so chase depth halves per round and 20 rounds cover chains
    ~10^6 deep. Each round is one materialization through
    connected_components' stats-resetting checkpoint (a plain checkpoint
    fed to the next round's self-join doubles the plan's size estimate's
    bit length every round). Small table (one row per dethroned root),
    joined exactly once by _resolve_labels."""
    if not _has_parts(merges_data):
        return None
    m = spark.read.parquet(merges_data)
    if exclude_epoch is not None:
        m = m.filter(F.col("epoch_id") != F.lit(exclude_epoch))
    m = m.select("label_from", "label_to")
    for _ in range(20):
        hop = _follow_merges(
            m.withColumn("_prev", F.col("label_to")), "label_to", m
        )
        m, moved = _truncated_counted(
            hop.withColumn("_moved", F.col("label_to") != F.col("_prev"))
            .drop("_prev"),
            "_moved",
        )
        if not moved:
            return m
    raise RuntimeError(
        "merge-map compression did not converge in 20 doubling "
        "rounds — compact the cluster state"
    )


def _resolve_labels(
    spark: SparkSession,
    merges_data: str,
    labels: DataFrame,
    exclude_epoch: int | None = None,
) -> DataFrame:
    """``labels`` with each ``label`` moved to its component's current
    root: one join against the path-doubled merge map, so resolution never
    fails on chase depth, however many later epochs re-merged a hot
    component. A batch passes its own ``exclude_epoch`` (the replay
    contract); a missing log (none yet, or removed by a compaction) means
    the labels are current. Label order strictly decreases along every
    merge edge (roots are component minima), so the DAG is acyclic."""
    m = _compressed_merge_map(spark, merges_data, exclude_epoch=exclude_epoch)
    return labels if m is None else _follow_merges(labels, "label", m)


def read_cluster_labels(spark: SparkSession, work_dir: str) -> DataFrame:
    """(conv_id, label) for every conv that ever appeared in a pair; label
    is the component's minimum conv_id — exactly connected_components'
    output over the union of all pair batches streamed so far. (Read
    between triggers, like the other read_* utilities: a half-written
    epoch is excluded by the NEXT batch's reads, not by this one.)"""
    _require_local_fs(work_dir)
    base_data = os.path.join(work_dir, "base", "data")
    if not _has_parts(base_data):
        return spark.createDataFrame([], CLUSTER_LABEL_SCHEMA)
    return _resolve_labels(
        spark,
        os.path.join(work_dir, "merges", "data"),
        spark.read.parquet(base_data).select("conv_id", "label"),
    )


# ---------------------------------------------------------------------------
# State compaction
# ---------------------------------------------------------------------------

COMPACTED_EPOCH = -2  # reserved epoch for rows folded by compaction


def _require_quiesced(work_dir: str, ckpt_name: str) -> None:
    """Fail fast unless the leg's stream is QUIESCED: its checkpoint
    (``work_dir/ckpt_name``) plans no batch (``offsets/N``) that has not
    committed (``commits/N``). A pending at-least-once replay of epoch E
    excludes only epoch E's own partitions, and once compaction folds E's
    crashed half-write into ``COMPACTED_EPOCH`` the replay would read it
    back as prior state. A missing checkpoint (state written by direct
    batch calls) counts as quiesced. Also requires a local-filesystem
    ``work_dir`` (rename dance; see _require_local_fs)."""
    _require_local_fs(work_dir)
    ckpt = os.path.join(work_dir, ckpt_name)

    def last_batch(log: str) -> int:
        path = os.path.join(ckpt, log)
        names = os.listdir(path) if os.path.isdir(path) else []
        return max((int(n) for n in names if n.isdigit()), default=-1)

    pending = last_batch("offsets")
    if pending > last_batch("commits"):
        raise RuntimeError(
            f"stream checkpoint {ckpt} has batch {pending} planned but not "
            "committed: run the stream to completion (a restart replays "
            "the batch) before compacting its state"
        )


def _drop_merge_log(merges_data: str):
    """``on_complete`` of the cluster base swap: the compacted base holds
    every conv on its current root, so the merge log is spent."""
    return partial(shutil.rmtree, merges_data, ignore_errors=True)


def compact_cluster_state(spark: SparkSession, work_dir: str) -> None:
    """Fold the merge-DAG closure into ``base`` and truncate the merge log.

    The per-batch chase follows only the merges appended SINCE each label
    was written, but a cold read (and a long-lived stream's worst-case
    label) walks the full history — compaction re-bases every conv on its
    CURRENT root under reserved epoch ``COMPACTED_EPOCH`` and removes the
    log, resetting chase depth to zero. The parquet analogue of the
    Iceberg MERGE maintenance the docstrings above defer to.

    Raises unless the stream is quiesced (_require_quiesced). (Re-running
    a committed epoch by hand stays a no-op — every conv resolves as known
    with its current root, so nothing is rewritten.)

    Crash-safe through _crash_safe_swap. Ordering note: the merge log is
    removed only AFTER the base swap, and a crash that leaves it behind is
    harmless — its ``label_from`` values are dethroned roots that no
    longer occur as labels in the compacted base, so the closure join
    matches nothing."""
    _require_quiesced(work_dir, "_stream_checkpoint")
    base_data = os.path.join(work_dir, "base", "data")

    def write_rewrite(tmp: str) -> bool:
        # a plain overwrite, not _write_epoch: a dynamic-overwrite write
        # leaves no _SUCCESS marker, and the swap reads completion from it
        read_cluster_labels(spark, work_dir).withColumn(
            "epoch_id", F.lit(COMPACTED_EPOCH)
        ).write.mode("overwrite").partitionBy("epoch_id").parquet(tmp)
        return True

    _crash_safe_swap(
        base_data,
        write_rewrite,
        on_complete=_drop_merge_log(
            os.path.join(work_dir, "merges", "data")
        ),
    )


def _fold_epoch_partitions(spark: SparkSession, data_path: str) -> None:
    """Rewrite an epoch-partitioned state table under the single reserved
    epoch ``COMPACTED_EPOCH``, preserving every row.

    Why: every epoch's dynamic overwrite adds one ``epoch_id=K`` directory
    of part files, so a long-lived stream (10^5 epochs) degrades every
    state read's listing and planning even though the data volume is
    flat. Folding leaves one directory holding one part file per read task
    (Spark packs the small files into a few splits) without changing a
    single row: the per-batch readers filter ``epoch_id != current`` and
    ``COMPACTED_EPOCH`` (-2) is never a real epoch id, so folded rows are
    always read back as prior state. The parquet analogue of Iceberg's
    rewrite_data_files maintenance, same as compact_cluster_state.

    Crash-safe through _crash_safe_swap. No-ops (without a Spark job) when
    the table is already a single compacted epoch."""

    def write_rewrite(tmp: str) -> bool:
        visible = [
            d for d in os.listdir(data_path) if not d.startswith(("_", "."))
        ]
        if visible == [f"epoch_id={COMPACTED_EPOCH}"]:
            return False  # already compacted
        spark.read.parquet(data_path).withColumn(
            "epoch_id", F.lit(COMPACTED_EPOCH)
        ).write.mode("overwrite").partitionBy("epoch_id").parquet(tmp)
        return True

    _crash_safe_swap(data_path, write_rewrite)


def _recover_swap(data_path: str, on_complete=None) -> bool:
    """Finish a rewrite-and-swap that crashed between its two renames —
    no live table at ``data_path`` but a COMPLETED (_SUCCESS-marked)
    rewrite in ``.compact`` — and run ``on_complete``. True when there was
    no live table. Every stream start calls this for each state table of
    its leg: a stream started on the half-swapped table would read "no
    state", and the exact leg would re-register every known hash as a
    first."""
    if os.path.exists(data_path):
        return False
    tmp = data_path + ".compact"
    if os.path.exists(os.path.join(tmp, "_SUCCESS")):
        os.replace(tmp, data_path)
        shutil.rmtree(data_path + ".old", ignore_errors=True)
        if on_complete is not None:
            on_complete()
    return True


def _crash_safe_swap(
    data_path: str, write_rewrite, on_complete=None
) -> None:
    """The ONE crash-safe rewrite-and-swap state machine (shared by
    _fold_epoch_partitions and compact_cluster_state — two hand-maintained
    copies of this dance would have to keep their recovery branches in
    lockstep).

    ``write_rewrite(tmp)`` writes the replacement table into ``tmp``
    (parquet's _SUCCESS marks completion) and may return False to abort a
    no-op rewrite; ``on_complete`` (optional) runs once the rewrite is the
    live table — on the normal path AND when recovering a crash between
    the renames. Order: the rewrite lands in ``.compact``, the live table
    is renamed ASIDE to ``.old``, the rewrite renamed INTO PLACE, cleanup
    last. Windows: a crash before the write leaves the live table
    untouched (stale ``tmp`` without _SUCCESS is removed next call); a
    crash between the renames leaves no live table but a COMPLETED
    rewrite, recovered by _recover_swap; a crash before final cleanup
    leaves ``.old`` behind, removed next call."""
    if _recover_swap(data_path, on_complete):
        return
    tmp = data_path + ".compact"
    old = data_path + ".old"
    shutil.rmtree(old, ignore_errors=True)  # crash before final cleanup
    if not _has_parts(data_path):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    shutil.rmtree(tmp, ignore_errors=True)  # stale/aborted rewrite
    if not write_rewrite(tmp):
        return
    os.replace(data_path, old)
    os.replace(tmp, data_path)
    if on_complete is not None:
        on_complete()
    shutil.rmtree(old)


def compact_dedup_state(spark: SparkSession, work_dir: str) -> None:
    """Fold the exact leg's seen-hash state (``state/data``) into the
    reserved ``COMPACTED_EPOCH``. Raises unless the stream is quiesced
    (_require_quiesced): for this leg a folded half-write would have the
    replayed convs join against their own hashes and be logged as
    duplicates of themselves."""
    _require_quiesced(work_dir, "_stream_checkpoint")
    _fold_epoch_partitions(spark, os.path.join(work_dir, "state", "data"))


def compact_simhash_state(spark: SparkSession, work_dir: str) -> None:
    """Fold the SimHash leg's exploded chunk-index state
    (``sim_state/data``) into the reserved ``COMPACTED_EPOCH``. Quiesce
    contract as compact_dedup_state; a folded half-write would hand a
    replayed epoch its own chunks as prior state (self-pairs are filtered
    by the ``sc != bc`` guard, but the epoch's pair set would stop being
    byte-identical under replay)."""
    _require_quiesced(work_dir, "_simhash_stream_checkpoint")
    _fold_epoch_partitions(spark, os.path.join(work_dir, "sim_state", "data"))


def compact_lsh_state(spark: SparkSession, work_dir: str) -> None:
    """Fold BOTH of the LSH leg's state tables — ``lsh_state/bands/data``
    and ``lsh_state/feats/data`` — into the reserved ``COMPACTED_EPOCH``.
    Quiesce contract as compact_dedup_state.

    Two tables, one call: each folds independently through the same
    crash-safe rename dance, and a crash BETWEEN them (bands compacted,
    feats not) is consistent by construction — folding changes no row, so
    the band-state join and the feats verify join see exactly the rows
    they saw before; the next call finishes the feats fold (and no-ops on
    bands)."""
    _require_quiesced(work_dir, "_lsh_stream_checkpoint")
    for table in ("bands", "feats"):
        _fold_epoch_partitions(
            spark, os.path.join(work_dir, "lsh_state", table, "data")
        )
