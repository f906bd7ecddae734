"""Near-duplicate operators: the features pass and the three pair legs.

This is the generalization layer BASELINE.json's north_star adds on top of
the reference's exact cascade. ``near_dup_features`` computes every leg's
input in one conv_id-partitioned pass (shingle-hash sets, MinHash and
SimHash signatures, supershingle sets); Python appears only in its two
Arrow kernels. Each leg then reads those columns and returns
(pairs, overflow):

* ``minhash_pairs`` — LSH band candidates verified by exact Jaccard;
* ``simhash_pairs`` — pigeonhole chunk candidates within Hamming h;
* ``span_pairs`` — anchored supershingle equi-join (shared token span).

plans/pipeline.run_pipeline composes them — one checkpointed phase per leg,
then the pair union with the exact cascade's star edges and connected
components. Pair kinds (expected_near_pairs fixture): exact | minhash |
simhash | span.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fast_duplicate_finder_spark.config import PipelineConfig
from fast_duplicate_finder_spark.functions.minhash import make_minhash_udf
from fast_duplicate_finder_spark.functions.simhash import (
    simhash_candidate_pairs,
    simhash_udf,
)
from fast_duplicate_finder_spark.operators.lsh import (
    _repartition_even,
    candidate_pairs,
    capped_pairs,
    lsh_band_rows,
)
from fast_duplicate_finder_spark.operators.verify import verify_jaccard


def shingle_features(
    docs: DataFrame, cfg: PipelineConfig, even_exchange: bool = True
) -> DataFrame:
    """(conv_id, shset, grams) — one pass over documents; reused by every
    near-dup leg. Checkpoint this in the pipeline: documents are never
    re-read afterwards.

    Computed via posexplode + lead-window + groupBy instead of the nested
    higher-order functions in functions/shingles.py: HOF ``transform(
    sequence, i -> xxhash64(array_join(slice(...))))`` is interpreted
    per-element with an array allocation per position and was the
    non-scaling hot spot of the whole pipeline (p6 ~flat from 8 to 32
    cores); the row formulation is whole-stage-codegen'd end to end.
    Semantics are identical except shset's (irrelevant) element order:
    * shset — distinct k-shingle hashes, sorted; 0 < n_words < k degrades
      to one whole-doc shingle (functions/shingles.word_shingles parity);
    * grams — positional (non-distinct) k-gram hashes in token order.

    Each document is read and tokenized ONCE: ``posexplode_outer`` keeps a
    single (null, null) row for a doc with no tokens, so the word count
    and the whole-doc hash come out of the same aggregation as the
    shingles.
    """
    from fast_duplicate_finder_spark.functions.shingles import words

    k = cfg.shingle_k
    # ONE doc-granularity exchange up front: hash-partitioning the doc rows
    # by conv_id makes the exploded token rows inherit that partitioning
    # (Generate preserves child partitioning), so the lead-window and the
    # aggregation are exchange-free — round 1 instead shuffled TOKEN rows
    # (~3-5x corpus bytes of row overhead) for the window and again for
    # the agg, the plan's dominant exchange at 10^12 turns.
    toks = _repartition_even(
        docs.select("conv_id", "doc"), ["conv_id"], even_exchange
    ).select(
        "conv_id", F.posexplode_outer(words(F.col("doc"))).alias("pos", "tok")
    )
    w_ord = Window.partitionBy("conv_id").orderBy("pos")
    leads = [f"tok{i}" for i in range(1, k)]
    g = toks.select(
        "conv_id",
        "pos",
        "tok",
        *[F.lead("tok", i).over(w_ord).alias(c) for i, c in enumerate(leads, 1)],
    ).select(
        "conv_id",
        "pos",
        "tok",
        # concat_ws skips null leads, so on the pos-0 row of a doc shorter
        # than k words h is xxhash64(array_join(words, " ")): the whole-doc
        # shingle
        F.xxhash64(F.concat_ws(" ", "tok", *leads)).alias("h"),
        # the row starts a full k-gram iff its (k-1)-th lead exists
        F.col(leads[-1] if leads else "tok").isNotNull().alias("full"),
    )
    agg = g.groupBy("conv_id").agg(
        F.count("tok").alias("n_words"),
        F.max(F.when(F.col("pos") == 0, F.col("h"))).alias("whole_hash"),
        F.transform(
            F.array_sort(
                F.collect_list(F.when(F.col("full"), F.struct("pos", "h")))
            ),
            lambda s: s.getField("h"),
        ).alias("grams"),
        F.array_sort(F.collect_set(F.when(F.col("full"), F.col("h")))).alias(
            "shset0"
        ),
    )
    return agg.select(
        "conv_id",
        F.when(F.col("n_words") >= k, F.col("shset0"))
        .when(F.col("n_words") > 0, F.array(F.col("whole_hash")))
        .otherwise(F.array().cast("array<bigint>"))
        .alias("shset"),
        "grams",
    )


def near_dup_features(docs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(conv_id, shset, minhash, simhash, sgs) — EVERY near-dup leg's
    features in the ONE conv_id-partitioned pass.

    Round 2 checkpointed (conv_id, shset, grams) and let each p7 leg
    derive its own structures: the span leg re-shuffled the positional
    gram arrays (the dominant table — ~70% of checkpoint bytes) through a
    fresh ``repartition(conv_id)`` + window, and the minhash/simhash legs
    re-ran their Arrow kernels and re-materialized signatures per leg.
    Profiled at 5.2M turns / 8 executors, re-serializing the gram arrays
    through that exchange was the single largest stage of the span leg
    (~27 s/task x 35 tasks map-side).

    Here the token-granularity data is consumed WHERE IT ALREADY LIVES:
    everything is ONE projection over shingle_features' output, which is
    still hash-partitioned by conv_id for the bucketed checkpoint write —
    supershingles via a per-doc higher-order transform and both Arrow
    signature kernels, so ``grams`` never leaves this operator and no
    row of it is exploded, sorted or joined back. (The round-3a form
    posexploded ~10 gram rows per turn through a ``window``-wide
    collect_list frame — materializing window x |grams| array elements —
    then re-joined per doc; the HOF form measured 1.4x faster on the
    isolated leg and removes the join entirely.) The whole plan is one
    scan of the documents, one conv_id exchange and no join. The p7 legs
    then shuffle only signatures and band keys — bytes per doc, not bytes
    per token. (Reference analogue: the cascade hands PHASE SUMMARIES
    between phases, never re-derives file contents — phase_2.go:15-40.)
    """
    mh = make_minhash_udf(cfg.lsh_perms_used, cfg.minhash_seed)
    window = max(cfg.span_min_tokens - cfg.shingle_k + 1, 1)
    feats = shingle_features(docs, cfg)
    # Measured dead end (5.2M turns, local[8]): fusing all three
    # signatures into ONE struct-returning Arrow kernel (rolling-hash
    # supershingles in numpy, shset+grams serialized once) changed
    # nothing (84.1 s vs 84.7 s for the phase) — the sgs HOF runs
    # JVM-side CONCURRENTLY with the Python kernel evaluation, so the
    # phase is max(JVM, Python), not their sum, and shipping the wide
    # grams column across Arrow ate exactly what the cheaper rolling
    # hash saved. Expression-level isolation (26.8 s HOF vs ~10 s
    # kernel) is NOT phase-level wall when the engine overlaps them.
    return feats.select(
        "conv_id",
        "shset",
        mh("shset").alias("minhash"),
        simhash_udf("shset").alias("simhash"),
        _supershingle_set(F.col("grams"), window).alias("sgs"),
    )


def minhash_pairs(
    features: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame, DataFrame]:
    """MinHash/LSH candidates verified by exact Jaccard >= tau. Reads the
    ``minhash`` and ``shset`` columns of ``near_dup_features``; returns
    (conv_id_a, conv_id_b, jaccard) pairs and the capped-bucket overflow."""
    # empty shingle sets are dropped BEFORE banding (like the simhash leg):
    # every empty doc gets the identical all-zero signature, so they would
    # all collide in every band and then "verify" at jaccard 1.0 through
    # the expensive path — the exact cascade owns verbatim-empty dups.
    # recompute = re-read of the checkpoint table: no eager copy needed
    sigs = features.filter(F.size("shset") > 0).select("conv_id", "minhash")
    bands = lsh_band_rows(sigs, cfg)
    cands, overflow = candidate_pairs(bands, cfg)
    verified = verify_jaccard(
        cands, features.select("conv_id", "shset"), cfg.jaccard_tau
    )
    return verified, overflow


def simhash_pairs(
    features: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame, DataFrame]:
    """SimHash fuzz pass over the ``simhash`` column of
    ``near_dup_features``: Hamming <= h (exact by construction). Returns
    (pairs, overflow) — capped hot chunk buckets are counted like the LSH
    band buckets, never silently dropped."""
    # empty docs share simhash 0; drop them (an empty doc is not a fuzz
    # match of another empty doc in any useful sense; exact cascade owns it).
    sims = features.filter(F.size("shset") > 0).select("conv_id", "simhash")
    return simhash_candidate_pairs(
        sims,
        cfg.simhash_hamming,
        max_bucket=cfg.max_band_bucket,
        n_salt=cfg.band_salt_buckets,
    )


def _supershingles(grams, window: int):
    """Column expression: per-doc POSITIONAL anchored supershingles —
    element i is xxhash64 over the ``window`` k-gram hashes starting at
    token i (== a span of window + k - 1 tokens) — computed with per-doc
    higher-order functions: no explode, no window sort, no re-join. The
    one supershingle definition: the span leg's sets and the catalog's
    positional span queries both derive from it. Guarded for short docs:
    ``sequence(0, size - window)`` DESCENDS when size < window, so they
    must yield an empty array, not inverted indices."""
    ss = F.transform(
        F.sequence(F.lit(0), F.size(grams) - window),
        lambda i: F.xxhash64(F.slice(grams, i + 1, window)),
    )
    return F.when(F.size(grams) >= window, ss).otherwise(
        F.array().cast("array<bigint>")
    )


def _supershingle_set(grams, window: int):
    """Column expression: per-doc DISTINCT anchored supershingles — the
    set form of ``_supershingles`` (first-occurrence order)."""
    return F.array_distinct(_supershingles(grams, window))


def span_pairs(
    features: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame, DataFrame]:
    """Shared-span pass over the ``sgs`` supershingle sets of
    ``near_dup_features``: anchored supershingle equi-join — EXACT span
    membership (pair qualifies iff a >= span_min_tokens contiguous token
    span is shared), entirely JVM-side. Two documents share a token span
    of >= window + k - 1 tokens IFF they share at least one supershingle
    (modulo 64-bit hash collision); too-short docs have an empty set.

    Round 1 generated candidates from winnowing fingerprints and verified
    each with a difflib Arrow kernel; at 5M turns the 200-word synthetic
    vocabulary made fingerprints collide so heavily that 30M candidate
    pairs reached Python (~12,000 core-seconds — 70% of pipeline wall,
    zero scaling). The supershingle join needs no verify step: candidates
    ARE verified pairs. ``span_tokens`` = shared DISTINCT supershingles +
    window + k - 2 — equal to difflib's longest-common-run length for a
    single shared span of non-repeating windows, above it (total shared
    content) when a pair shares several disjoint spans, and BELOW it when
    a shared span internally repeats identical windows (a run of repeated
    tokens collapses to one distinct supershingle): a span-length
    estimate, exact in the common case. When the exact longest run
    matters, queries.q_span_longest_run keeps supershingle POSITIONS (a
    posexplode of ``_supershingles``, whose distinct form is ``sgs``) and
    takes the max consecutive run per (pair, diagonal), which equals
    difflib's longest matching block in all three cases (pinned by
    tests/test_span_exact.py::test_longest_run_matches_difflib_planted).
    Pair MEMBERSHIP is exact always
    (>= 1 shared supershingle iff a >= span_min_tokens span is shared,
    modulo 64-bit collisions). The differential-parity oracle is the
    driver-side window index + difflib in tests/oracle.span_runs_oracle
    (tests/test_span_exact.py).

    Returns (pairs, overflow): hot supershingle buckets (corpus
    boilerplate >= cfg.max_band_bucket docs) are capped and counted like
    every other candidate join.
    """
    window = max(cfg.span_min_tokens - cfg.shingle_k + 1, 1)
    # recompute = checkpoint re-read + explode: cheap on both probe sides
    sgs = features.select("conv_id", F.explode("sgs").alias("sg"))
    # the shared capped + salted generator (one row per shared
    # supershingle, dedupe=False — each occurrence emitted exactly once,
    # so the count IS the shared-sg count); previously a plain self-join
    # put a hot-yet-under-cap sg bucket on a single reducer
    matches, overflow = capped_pairs(
        sgs,
        ["sg"],
        cfg.max_band_bucket,
        cfg.band_salt_buckets,
        dedupe=False,
    )
    verified = matches.groupBy("conv_id_a", "conv_id_b").agg(
        (F.count("*") + window + cfg.shingle_k - 2)
        .cast("int")
        .alias("span_tokens")
    )
    return verified, overflow


def exact_pairs_from_clusters(exact_clusters: DataFrame) -> DataFrame:
    """Star edges (member -> cluster_id) are enough for CC; no quadratic
    within-cluster pair expansion."""
    return (
        exact_clusters.filter(F.col("conv_id") != F.col("cluster_id"))
        .select(
            F.col("cluster_id").alias("conv_id_a"),
            F.col("conv_id").alias("conv_id_b"),
        )
        .distinct()
    )

