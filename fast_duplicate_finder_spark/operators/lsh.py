"""LSH banding + skew-aware candidate pair generation.

MinHash signatures are split into ``lsh_bands`` bands of ``lsh_rows`` rows;
each band is hashed to one 64-bit key; two conversations are candidates iff
they collide in at least one band (P[collide] = 1-(1-s^r)^b).

Scale design (north_rule: hot bands at 10^12 turns must not kill the job):
* bucket sizes are measured FIRST (one agg); buckets over
  ``cfg.max_band_bucket`` are excluded from pair generation and COUNTED —
  never silently dropped (metrics row per overflow);
* pair generation is an equi self-join on (band_id, band_hash) —
  AQE skew-join splits stragglers; the cap bounds the quadratic blowup
  (a bucket of 10^6 identical-boilerplate convs would otherwise emit
  10^12 pairs from one band);
* hot-yet-under-cap buckets (above ``max_band_bucket //
  band_salt_buckets`` members) use two-level salted pair generation:
  the equi-join key gains a ``hash(conv_id) % band_salt_buckets`` salt
  and the probe side is replicated per salt, splitting one bucket's pair
  enumeration across that many reducers (the b-side replication cost is
  paid ONLY for hot-bucket rows);
* pairs are deduped across bands with ``distinct`` before expensive
  verification (the same true pair collides in many bands).

Capped buckets are not lost candidates in the exact-dup sense: verbatim
boilerplate groups are already found by the exact cascade; the cap only
bounds *near*-dup pair enumeration per band.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fast_duplicate_finder_spark.config import PipelineConfig


def lsh_band_rows(sigs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Explode (conv_id, minhash) signatures to (conv_id, band_id,
    band_hash)."""
    r = cfg.lsh_rows
    bands = F.array(
        *[
            F.xxhash64(F.lit(b), F.slice(F.col("minhash"), b * r + 1, r))
            for b in range(cfg.lsh_bands)
        ]
    )
    return sigs.select(
        "conv_id", F.posexplode(bands).alias("band_id", "band_hash")
    )


def two_level_pairs(
    rows: DataFrame, key_cols: list[str], n_salt: int,
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """All unordered conv_id pairs within each key group, generated across
    ~``n_salt`` tasks per group instead of one (two-level salted pair
    generation, SURVEY §4).

    Level 1: each member gets a deterministic salt ``hash(id) % n_salt``.
    Level 2: the b-side is replicated once per salt value, and the
    equi-join key becomes (key..., salt) — so one hot group's pair
    enumeration lands on up to ``n_salt`` reducers instead of one. A pair
    with salts (u, v) is emitted exactly once: in cell u when u < v, or in
    cell u ordered by id when u == v. Join work per group is unchanged
    (every pair is still enumerated once); only its placement is split.

    ``payload_cols``: NARROW per-row columns carried through the join and
    emitted as ``<col>_a`` / ``<col>_b`` aligned with (conv_id_a,
    conv_id_b). For a fixed-width payload (simhash's 8-byte signature)
    this is strictly cheaper than re-attaching values to the emitted
    pairs with joins against the id->payload table; wide payloads (shset
    arrays) should use operators/verify.attach_pair_payload instead —
    carrying them would multiply the replicated b-side by the payload
    width.
    """
    payload_cols = payload_cols or []
    salt_of = lambda c: F.pmod(F.xxhash64(c), F.lit(n_salt)).cast("int")  # noqa: E731
    a = rows.select(
        *key_cols,
        *payload_cols,
        F.col("conv_id").alias("ida"),
        salt_of(F.col("conv_id")).alias("cell"),
    ).alias("a")
    b = rows.select(
        *key_cols,
        *payload_cols,
        F.col("conv_id").alias("idb"),
        salt_of(F.col("conv_id")).alias("salt_b"),
        F.explode(
            F.array(*[F.lit(i) for i in range(n_salt)])
        ).alias("cell"),
    ).alias("b")
    cond = (F.col("a.cell") == F.col("b.cell"))
    for k in key_cols:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    a_first = F.col("a.ida") < F.col("b.idb")  # align payloads with the
    return (                                   # least/greatest id swap
        a.join(b, cond)
        .filter(
            (F.col("b.salt_b") > F.col("a.cell"))
            | (
                (F.col("b.salt_b") == F.col("a.cell"))
                & (F.col("a.ida") < F.col("b.idb"))
            )
        )
        .select(
            F.least("a.ida", "b.idb").alias("conv_id_a"),
            F.greatest("a.ida", "b.idb").alias("conv_id_b"),
            *[
                F.when(a_first, F.col(f"a.{p}"))
                .otherwise(F.col(f"b.{p}"))
                .alias(f"{p}_a")
                for p in payload_cols
            ],
            *[
                F.when(a_first, F.col(f"b.{p}"))
                .otherwise(F.col(f"a.{p}"))
                .alias(f"{p}_b")
                for p in payload_cols
            ],
        )
    )


def _repartition_even(
    df: DataFrame, key_cols: list[str], even: bool = True
) -> DataFrame:
    """``key_cols`` hash exchange; with ``even``, at an EXPLICIT partition
    count (the session's shuffle.partitions — the same number the bare
    form starts from).

    A bare ``repartition(*key_cols)`` lets AQE re-coalesce the exchange
    toward advisoryPartitionSizeInBytes — balancing BYTES. The stages fed
    by these exchanges cost far more than their bytes suggest, so a
    byte-targeted merge breaks WAVE balance:
    * shingle_features' conv_id exchange feeds posexplode + lead-window +
      collect_list and the Arrow signature kernels (~20x CPU per input
      byte). On the 5.2M-turn ladder corpus at local-cluster[8,1,10240],
      AQE merged 16 even buckets into 14 (two double-width): max task ~2x
      median (38-58 s vs 17-28 s), a ~25 s one-straggler tail with 7 of 8
      cores idle (BENCH/ladder_r4_subknee.json, scripts/p6_probe.py).
    * capped_pairs' key exchange satisfies the bucket-size window, and the
      checkpoint keeps that partitioning, so the SELF-JOIN inherits it
      exchange-free at a cost quadratic per bucket: AQE's 16 -> 11 uneven
      merge at local-cluster[8,1] ran max ~2x median (6.7 s vs 3.2 s) on
      every pair leg (scripts/p7_probe.py).
    An explicit count is never AQE-coalesced, so the hash buckets stay
    even and the waves stay full; it is still exactly ONE exchange. Skew
    handling is unaffected: AQE skew-join operates on join exchanges.

    ``even=False`` keeps the bare form: the wave-balance argument only
    holds for corpus-sized inputs. A streaming micro-batch is tiny, and
    pinning shuffle.partitions near-empty tasks onto every checkpointed
    frame of every trigger is pure scheduling overhead — there AQE's
    coalesce-to-few is exactly right."""
    if not even:
        return df.repartition(*key_cols)
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *key_cols)


def capped_pairs(
    rows: DataFrame,
    key_cols: list[str],
    max_bucket: int,
    n_salt: int = 1,
    dedupe: bool = True,
    payload_cols: list[str] | None = None,
    even_exchange: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Shared capped + salted self-join: (conv_id, key...) rows ->
    ((conv_id_a, conv_id_b) pairs, overflow metrics). The ONE pair
    generator behind every candidate leg (LSH bands, simhash pigeonhole
    chunks, span supershingles), so the skew controls
    are uniform:

    * buckets > ``max_bucket``: excluded + COUNTED (overflow);
    * buckets above the hot threshold (``max_bucket // n_salt``):
      two-level salted pair generation — a hot-yet-under-cap bucket
      (1,999 members ~= 2M pairs) splits across ``n_salt`` tasks instead
      of landing on one reducer;
    * small buckets: plain self-join (no replication cost).

    ``dedupe=False`` keeps one output row per shared key occurrence
    (each occurrence emitted exactly once — the two_level invariant), so
    a caller can ``groupBy(pair).count()`` shared keys (the span leg's
    span_tokens).

    ``payload_cols``: narrow per-row columns carried through the self-join
    and emitted as ``<col>_a`` / ``<col>_b`` (see two_level_pairs) — the
    cheap verify path for fixed-width signatures (simhash); wide payloads
    should be re-attached to the (few) emitted pairs via
    operators/verify.attach_pair_payload instead.

    ``even_exchange``: _repartition_even's ``even`` for the key exchange
    (True for corpus-sized inputs, False for a streaming micro-batch).
    """
    payload_cols = payload_cols or []
    w = Window.partitionBy(*key_cols)
    # Eager: (pairs, overflow) are consumed by SEPARATE actions (two
    # checkpoint writes in the pipeline), and each action re-plans the
    # DataFrame — without materialization the explode + bucket-size window
    # shuffle over EVERY row re-executes per action (and per self-join
    # side). Only rows in buckets >= 2 survive the filter, so the
    # materialized set is the interesting minority, not the corpus.
    sized = (
        _repartition_even(rows, key_cols, even_exchange)
        .withColumn("bucket_n", F.count("*").over(w))
        .filter(F.col("bucket_n") >= 2)
        .localCheckpoint(eager=True)
    )
    overflow = (
        sized.filter(F.col("bucket_n") > max_bucket)
        .groupBy(*key_cols)
        .agg(F.first("bucket_n").alias("bucket_n"))
    )
    ok = sized.filter(F.col("bucket_n") <= max_bucket).select(
        "conv_id", *key_cols, *payload_cols, "bucket_n"
    )
    n_salt = max(int(n_salt), 1)
    hot_threshold = (
        max(max_bucket // n_salt, 2) if n_salt > 1 else max_bucket
    )
    cold = ok.filter(F.col("bucket_n") <= hot_threshold)
    a = cold.alias("a")
    b = cold.alias("b")
    cond = F.col("a.conv_id") < F.col("b.conv_id")
    for k in key_cols:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    cold_pairs = a.join(b, cond).select(
        F.col("a.conv_id").alias("conv_id_a"),
        F.col("b.conv_id").alias("conv_id_b"),
        *[F.col(f"a.{p}").alias(f"{p}_a") for p in payload_cols],
        *[F.col(f"b.{p}").alias(f"{p}_b") for p in payload_cols],
    )
    pairs = cold_pairs
    if n_salt > 1:
        hot = ok.filter(F.col("bucket_n") > hot_threshold)
        pairs = cold_pairs.union(
            two_level_pairs(hot, key_cols, n_salt, payload_cols=payload_cols)
        )
    return (pairs.distinct() if dedupe else pairs), overflow


def candidate_pairs(
    band_rows: DataFrame, cfg: PipelineConfig, even_exchange: bool = True
) -> tuple[DataFrame, DataFrame]:
    """-> (pairs, overflow_metrics).

    pairs: (conv_id_a, conv_id_b) distinct, a < b.
    overflow_metrics: (band_id, band_hash, bucket_n) for capped buckets.
    """
    return capped_pairs(
        band_rows,
        ["band_id", "band_hash"],
        cfg.max_band_bucket,
        cfg.band_salt_buckets,
        even_exchange=even_exchange,
    )
