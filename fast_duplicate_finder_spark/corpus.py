"""Deterministic synthetic transcript corpus.

The reference has no test corpus (zero Go tests — SURVEY.md §5), so fixtures
are synthesized per FIXTURES.md: a ``transcripts`` table with the exact
input_hint schema ``(conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp)`` and planted duplicate families mirroring the
reference's implicit cases (identical files, same-size different content,
partial-prefix collisions, truncations, group/nested-group duplicates).

Two generators, both pure functions of (seed, size):

* :func:`generate_transcripts` — driver-side Python for unit/golden tiers
  (n <= a few thousand convs). Easy to reason about; tests derive expected
  clusters from the *data* via a brute-force oracle, not from construction.
* :func:`generate_transcripts_distributed` — pure Spark column expressions
  from ``spark.range`` (xxhash64-derived choices), no driver loop, no UDF:
  scales to arbitrarily many conversations for bench runs. This is the 100 TB
  path: generation parallelism == partition count.

Determinism notes: ``random.Random(str)`` seeds via SHA-512 of the string —
stable across processes and Python versions. The distributed generator uses
Spark's xxhash64, stable across Spark versions.
"""

from __future__ import annotations

import datetime as _dt
import random
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Fixed 200-word vocabulary so shingle statistics are reproducible (FIXTURES.md).
_BASE = (
    "key agg row scan slow fast table value part hash merge batch spark line "
    "sort window join group filter shuffle stage task plan node edge graph "
    "query index block page cache disk memory spill skew salt band bucket "
    "token text turn role tool user agent model train data set list map fold "
    "read write sink source stream state event time stamp order rank dense "
    "count sum min max avg first last lead lag over partition cluster label "
    "prop propagate converge iterate loop level depth tree trie prefix suffix "
    "span match exact near dup clone copy alias link hard soft mirror shadow "
    "byte char word gram shingle sketch sample survey judge bench test fixture "
    "golden oracle truth claim proof check gate green red flaky stable seed "
    "random determinist pure func compose pipe phase cascade stagegate report "
    "summary wasted space size length total final begin end middle half core "
    "thread pool chan lock mutex atomic fence barrier sync async defer yield "
    "emit flush commit abort retry resume restore snapshot lineage metric"
).split()
VOCAB: list[str] = (_BASE * ((200 // len(_BASE)) + 1))[:200]
assert len(VOCAB) == 200

_EPOCH = _dt.datetime(2020, 1, 1, tzinfo=_dt.timezone.utc)

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def _rng(*key: object) -> random.Random:
    return random.Random("|".join(str(k) for k in key))


@dataclass(frozen=True)
class Family:
    """One planted family inside a 20-conv block (FIXTURES.md families)."""

    offset: int
    content_base: int  # offset of the conv whose content this one reuses
    edit_rate: float = 0.0
    truncate: bool = False


# Block layout (block = 20 consecutive conv indices):
#  0-11 unique | 12,13 exact pair | 14-16 exact triple | 17 near-dup of 12
#  (5% edits) | 18 near-dup of 14 (2% edits) | 19 truncated copy of 12.
_BLOCK: list[Family] = (
    [Family(i, i) for i in range(12)]
    + [Family(12, 12), Family(13, 12)]
    + [Family(14, 14), Family(15, 14), Family(16, 14)]
    + [Family(17, 12, edit_rate=0.05)]
    + [Family(18, 14, edit_rate=0.02)]
    + [Family(19, 12, truncate=True)]
)


def _turn_words(seed: int, content_key: object, t: int) -> list[str]:
    r = _rng(seed, "w", content_key, t)
    n_words = 6 + r.randrange(25)
    return [VOCAB[r.randrange(len(VOCAB))] for _ in range(n_words)]


def _conv_rows(
    seed: int,
    conv_id: str,
    conv_ord: int,
    content_key: object,
    *,
    edit_rate: float = 0.0,
    truncate: bool = False,
    max_turns: int = 12,
) -> list[tuple]:
    n_turns = 1 + _rng(seed, "nt", content_key).randrange(max_turns)
    if truncate and n_turns > 1:
        n_turns = max(1, n_turns - 1 - _rng(seed, "tr", conv_id).randrange(2))
    rows = []
    for t in range(n_turns):
        words = _turn_words(seed, content_key, t)
        if edit_rate > 0:
            er = _rng(seed, "e", conv_id, t)
            words = [
                VOCAB[er.randrange(len(VOCAB))] if er.random() < edit_rate else w
                for w in words
            ]
        role = "user" if t % 2 == 0 else "assistant"
        tool = "search" if _rng(seed, "tl", content_key, t).random() < 0.1 else ""
        ts = _EPOCH + _dt.timedelta(seconds=conv_ord * 1000 + t)
        rows.append((conv_id, t, role, " ".join(words), tool, ts))
    return rows


def generate_transcripts(
    spark: SparkSession,
    n_convs: int = 500,
    seed: int = 42,
    max_turns: int = 12,
) -> DataFrame:
    """Flat corpus with planted exact/near/truncated duplicate families."""
    rows: list[tuple] = []
    for i in range(n_convs):
        block, off = divmod(i, 20)
        fam = _BLOCK[off]
        content_key = ("b", block, fam.content_base)
        rows.extend(
            _conv_rows(
                seed,
                f"conv{i:06d}",
                i,
                content_key,
                edit_rate=fam.edit_rate,
                truncate=fam.truncate,
                max_turns=max_turns,
            )
        )
    # turn_order_scramble fixture: physical order is irrelevant
    _rng(seed, "shuffle").shuffle(rows)
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


def generate_grouped_transcripts(
    spark: SparkSession,
    n_groups: int = 12,
    convs_per_group: int = 4,
    seed: int = 43,
) -> DataFrame:
    """Group (folder-analogue) corpus: conv_id is path-style ``grp/sub/conv``.

    Groups come in pairs (2g, 2g+1): group 2g+1 duplicates group 2g member by
    member -> a group-level duplicate (reference phase_4.go:20-106). Layout:

    * groups 0,1: flat dup pair              -> ``grpK/convP``
    * groups 2,3: nested dup pair with subfolders -> ``grpK/subS/convP``
      (sub-level groups are ALSO duplicated -> nested suppression,
      phase_5.go:64-148)
    * groups 4,5: dup pair except one member of 5 is unique
      -> uniqueness short-circuit (calculate_folder_signature.go:39-55)
    * remaining groups: unique content.
    """
    rows: list[tuple] = []
    ordinal = 0
    for g in range(n_groups):
        pair_base = (g // 2) * 2
        scenario = pair_base % 6
        for p in range(convs_per_group):
            content_key = ("g", pair_base, p)
            unique = False
            if scenario == 4 and g % 2 == 1 and p == 0:
                unique = True  # unique member inside second copy
            if g >= 6:
                unique = True  # unpaired unique groups
            if unique:
                content_key = ("gu", g, p)
            if scenario == 2:
                conv_id = f"grp{g}/sub{p // 2}/conv{p}"
            else:
                conv_id = f"grp{g}/conv{p}"
            rows.extend(
                _conv_rows(seed, conv_id, ordinal, content_key, max_turns=6)
            )
            ordinal += 1
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


# ---------------------------------------------------------------------------
# Distributed generator — pure column expressions, scales with partitions.
# ---------------------------------------------------------------------------

def generate_transcripts_distributed(
    spark: SparkSession,
    n_convs: int,
    seed: int = 42,
    max_turns: int = 12,
    partitions: int | None = None,
) -> DataFrame:
    """Same family layout as :func:`generate_transcripts`, built from
    ``spark.range`` with xxhash64-derived choices. No driver loop, no UDF —
    generation cost is spread across all executors, so this is the corpus
    source for bench/scale runs (FIXTURES.md t-bench and beyond).
    """
    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    nv = len(VOCAB)

    def h(*cols):  # deterministic 64-bit mix
        return F.xxhash64(F.lit(seed), *cols)

    df = spark.range(0, n_convs, 1, parts).withColumnRenamed("id", "i")
    off = F.pmod(F.col("i"), F.lit(20))
    block = (F.col("i") / 20).cast("long")
    # content base offset per the block layout
    cbase = (
        F.when(off.isin(12, 13, 17, 19), F.lit(12))
        .when(off.isin(14, 15, 16, 18), F.lit(14))
        .otherwise(off)
    )
    edit_rate = (
        F.when(off == 17, F.lit(0.05)).when(off == 18, F.lit(0.02)).otherwise(F.lit(0.0))
    )
    content_key = block * 100 + cbase
    n_turns = F.lit(1) + F.pmod(h(F.lit("nt"), content_key), F.lit(max_turns))
    n_turns = F.when(
        (off == 19) & (n_turns > 1), F.greatest(F.lit(1), n_turns - 1)
    ).otherwise(n_turns)

    df = (
        df.withColumn("content_key", content_key)
        .withColumn("edit_rate", edit_rate)
        .withColumn("n_turns", n_turns)
        .withColumn("turn_idx", F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)))
    )
    ck, ti, i = F.col("content_key"), F.col("turn_idx"), F.col("i")
    n_words = F.lit(6) + F.pmod(h(F.lit("nw"), ck, ti), F.lit(25))
    base_word = lambda j: F.element_at(  # noqa: E731
        vocab, (F.pmod(h(F.lit("w"), ck, ti, j), F.lit(nv)) + 1).cast("int")
    )
    edit_word = lambda j: F.element_at(  # noqa: E731
        vocab, (F.pmod(h(F.lit("ew"), i, ti, j), F.lit(nv)) + 1).cast("int")
    )
    do_edit = lambda j: (  # noqa: E731
        F.pmod(h(F.lit("e"), i, ti, j), F.lit(10000))
        < (F.col("edit_rate") * 10000).cast("long")
    )
    words = F.transform(
        F.sequence(F.lit(0), n_words - 1),
        lambda j: F.when(do_edit(j), edit_word(j)).otherwise(base_word(j)),
    )
    return df.select(
        F.concat(F.lit("conv"), F.lpad(i.cast("string"), 9, "0")).alias("conv_id"),
        ti.cast("int").alias("turn_idx"),
        F.when(ti % 2 == 0, F.lit("user")).otherwise(F.lit("assistant")).alias("role"),
        F.array_join(words, " ").alias("text"),
        F.when(F.pmod(h(F.lit("tl"), ck, ti), F.lit(10)) == 0, F.lit("search"))
        .otherwise(F.lit(""))
        .alias("tool"),
        F.timestamp_seconds(F.lit(1577836800) + i * 1000 + ti).alias("ts"),
    )


# ---------------------------------------------------------------------------
# Embedding corpus with planted near-neighbors at exact cosine bands
# ---------------------------------------------------------------------------

# Default planted cosine bands: one exact-dup band plus four near bands
# spanning the interesting LSH/IVF operating range.
EMB_BANDS: tuple[float, ...] = (0.999, 0.97, 0.95, 0.90, 0.85)


def _gauss(h1, h2):
    """Box-Muller from two xxhash64-derived uniforms (JVM-side columns)."""
    scale = float(1 << 24)
    u1 = (F.pmod(h1, F.lit(1 << 24)) + 0.5) / F.lit(scale)
    u2 = (F.pmod(h2, F.lit(1 << 24)) + 0.5) / F.lit(scale)
    import math

    return F.sqrt(F.lit(-2.0) * F.log(u1)) * F.cos(F.lit(2 * math.pi) * u2)


def _unit(v):
    norm = F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    return F.transform(v, lambda x: x / norm)


def generate_embeddings_distributed(
    spark,
    n_base: int,
    dim: int = 64,
    seed: int = 7,
    bands: tuple[float, ...] = EMB_BANDS,
) -> "DataFrame":
    """(vec_id bigint, embedding array<float>) with planted neighbors at
    EXACT cosine bands — the ANN-recall ground-truth corpus.

    Base vectors ``0..n_base-1`` are unit gaussians (Box-Muller over
    xxhash64 uniforms — pure column expressions from ``spark.range``, no
    driver loop, no UDF, same scaling story as
    :func:`generate_transcripts_distributed`). Base ``i`` gets one planted
    neighbor ``vec_id = n_base + i`` iff ``i % (2 * len(bands))
    < len(bands)``, at cosine ``bands[that index]`` EXACTLY (up to fp): the
    neighbor is ``c*v + sqrt(1-c^2)*g_perp`` with the gaussian noise
    orthogonalized against ``v`` before mixing, so the realized cosine does
    not scatter around the target. :func:`planted_neighbors` enumerates the
    (base, neighbor, band) truth arithmetically; probes still re-measure
    the realized cosine from the data (fixture philosophy: truth is
    derived, not assumed).
    """
    parts = max(spark.sparkContext.defaultParallelism, 8)

    def h(tag: str, i, j):
        return F.xxhash64(F.lit(seed), F.lit(tag), i, j)

    idx = F.sequence(F.lit(0), F.lit(dim - 1))
    base = spark.range(0, n_base, 1, parts).select(
        F.col("id").alias("vec_id"),
        _unit(
            F.transform(
                idx,
                lambda j: _gauss(
                    h("b1", F.col("id"), j), h("b2", F.col("id"), j)
                ),
            )
        ).alias("v"),
    )
    period = 2 * len(bands)
    band_arr = F.array(*[F.lit(float(c)) for c in bands])
    planted = base.withColumn(
        "slot", F.pmod(F.col("vec_id"), F.lit(period))
    ).filter(F.col("slot") < len(bands))
    g = F.transform(
        idx,
        lambda j: _gauss(
            h("n1", F.col("vec_id"), j), h("n2", F.col("vec_id"), j)
        ),
    )
    c = F.element_at(band_arr, F.col("slot").cast("int") + 1)
    # <g, v> lands in its own column BEFORE the per-element orthogonalize:
    # a higher-order-function lambda re-evaluates its body per element, so
    # embedding the 64-term aggregate inside the zip_with would cost
    # O(dim^2) multiply-adds per planted row instead of O(dim).
    dot_gv = F.aggregate(
        F.zip_with("_g", "v", lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    planted = (
        planted.withColumn("_g", g)
        .withColumn("_dot", dot_gv)
        .withColumn(
            "_gp",
            _unit(
                F.zip_with(
                    "_g", "v", lambda gi, vi: gi - F.col("_dot") * vi
                )
            ),
        )
        .select(
            (F.col("vec_id") + n_base).alias("vec_id"),
            F.zip_with(
                "v",
                "_gp",
                lambda vi, gi: c * vi + F.sqrt(F.lit(1.0) - c * c) * gi,
            ).alias("v"),
        )
    )
    emb = F.transform("v", lambda x: x.cast("float")).alias("embedding")
    return base.select("vec_id", emb).unionAll(planted.select("vec_id", emb))


def planted_neighbors(
    spark,
    n_base: int,
    bands: tuple[float, ...] = EMB_BANDS,
) -> "DataFrame":
    """(vec_id_a, vec_id_b, band) for every planted neighbor pair of
    :func:`generate_embeddings_distributed` — a < b always holds (the
    neighbor id is base + n_base)."""
    period = 2 * len(bands)
    band_arr = F.array(*[F.lit(float(c)) for c in bands])
    return (
        spark.range(n_base)
        .withColumn("slot", F.pmod(F.col("id"), F.lit(period)))
        .filter(F.col("slot") < len(bands))
        .select(
            F.col("id").alias("vec_id_a"),
            (F.col("id") + n_base).alias("vec_id_b"),
            F.element_at(band_arr, F.col("slot").cast("int") + 1).alias(
                "band"
            ),
        )
    )
