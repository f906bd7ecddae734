"""Driver-facing query catalog: every operator exposed as a
``(spark, sf_dir) -> DataFrame`` callable plus (where SQL-expressible) a
DuckDB oracle producing identical rows.

Design rules for oracle parity (see __spark_entry__.py contract):
* never expose raw hash VALUES (xxhash64 differs from DuckDB's hash) —
  expose the equivalence classes they induce: min(id), counts, sizes;
* keep numeric outputs in exact types (BIGINT, or double division of small
  ints which is IEEE-identical across engines); round() only at report edge;
* pair outputs are oriented numerically (least/greatest of BIGINT ids) —
  string-lexicographic orientation would diverge from the oracle;
* duplicates are PLANTED deterministically in SQL-expressible form (union
  of shifted-id copies / suffix-append / word-replace) so both engines see
  the same corpus — /root/testdata has no native duplicate rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fast_duplicate_finder_spark.config import PipelineConfig

CFG = PipelineConfig()


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Planted-duplicate corpora (identical construction in Spark and DuckDB)
# ---------------------------------------------------------------------------

# Session-scoped materialization cache: nine catalog queries start from the
# same planted corpus (and four from the embedding corpus); without this a
# suite run re-reads + re-unions it cold per query. Keyed by applicationId
# so entries die with their session (a localCheckpoint is session-local).
# This is the catalog-side analogue of the pipeline's shared p6_features
# checkpoint; inputs are immutable sf dirs, so staleness cannot arise.
_MATERIALIZED: dict[tuple, DataFrame] = {}


def _materialized(spark: SparkSession, key: tuple, build) -> DataFrame:
    k = (spark.sparkContext.applicationId,) + key
    df = _MATERIALIZED.get(k)
    if df is None:
        df = build().localCheckpoint(eager=True)
        _MATERIALIZED[k] = df
        # drop entries of dead sessions so long-lived processes don't leak
        app = k[0]
        for stale in [s for s in _MATERIALIZED if s[0] != app]:
            del _MATERIALIZED[stale]
    return df


def dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + planted exact copies (+100000), suffix-append near-dups
    (+200000) and word-substitution near-dups (+300000). Materialized once
    per (session, sf_dir) — see _MATERIALIZED."""

    def build() -> DataFrame:
        d = _load(spark, sf_dir, "documents").select("doc_id", "text")
        exact = d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
        suffix = d.filter(F.col("doc_id") % 10 == 1).select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail tail tail")).alias("text"),
        )
        edit = d.filter(F.col("doc_id") % 10 == 2).select(
            (F.col("doc_id") + 300000).alias("doc_id"),
            F.expr("replace(text, 'table', 'tables')").alias("text"),
        )
        return d.unionAll(exact).unionAll(suffix).unionAll(edit)

    return _materialized(spark, ("corpus", sf_dir), build)


CORPUS_CTE = """corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL SELECT doc_id + 200000, text || ' tail tail tail' FROM documents WHERE doc_id % 10 = 1
  UNION ALL SELECT doc_id + 300000, replace(text, 'table', 'tables') FROM documents WHERE doc_id % 10 = 2
)"""


def _emb_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        e = _load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        copies = e.filter(F.col("vec_id") % 20 == 0).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
        return e.unionAll(copies)

    return _materialized(spark, ("emb", sf_dir), build)


EMB_CTE = """emb AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 20 = 0
)"""


# ---------------------------------------------------------------------------
# Exact cascade over the planted corpus (A1-A5, A3 HAVING, P1-P3, F1-F2)
# ---------------------------------------------------------------------------

def q_exact_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-3 analogue: full-hash duplicate sets (xxhash64 equivalence
    classes exposed as min-id clusters; phase_3.go:54-96)."""
    c = dup_corpus(spark, sf_dir)
    return (
        c.groupBy(F.xxhash64("text").alias("_h"))
        .agg(
            F.min("doc_id").alias("cluster_id"),
            F.count("*").alias("n_members"),
            F.max(F.length("text")).cast("long").alias("size_chars"),
        )
        .filter(F.col("n_members") >= 2)
        .select(
            "cluster_id",
            "n_members",
            "size_chars",
            (F.col("size_chars") * (F.col("n_members") - 1)).alias("wasted_chars"),
        )
    )


ORACLE_EXACT_DUP = f"""WITH {CORPUS_CTE}
SELECT min(doc_id) AS cluster_id, count(*)::BIGINT AS n_members,
       max(len(text))::BIGINT AS size_chars,
       (max(len(text)) * (count(*) - 1))::BIGINT AS wasted_chars
FROM corpus GROUP BY text HAVING count(*) >= 2"""


def q_prefilter_size_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-1 analogue: size groups with >=2 members (phase_1.go:121-132)."""
    c = dup_corpus(spark, sf_dir)
    return (
        c.groupBy(F.length("text").cast("long").alias("size_chars"))
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )


ORACLE_PREFILTER = f"""WITH {CORPUS_CTE}
SELECT len(text)::BIGINT AS size_chars, count(*)::BIGINT AS n_docs
FROM corpus GROUP BY 1 HAVING count(*) >= 2"""


def q_partial_hash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-2 analogue: (size, prefix-hash, suffix-hash) groups
    (calculate_hash.go:43-109 with 64-char windows at this scale)."""
    c = dup_corpus(spark, sf_dir).withColumn(
        "size_chars", F.length("text").cast("long")
    )
    prefix = F.expr("substring(text, 1, 64)")
    suffix = F.expr("substring(text, greatest(1, length(text) - 63), 64)")
    return (
        c.groupBy(
            "size_chars",
            F.xxhash64(prefix).alias("_ph"),
            F.xxhash64(suffix).alias("_sh"),
        )
        .agg(F.min("doc_id").alias("cluster_id"), F.count("*").alias("n_members"))
        .filter(F.col("n_members") >= 2)
        .select("cluster_id", "n_members", "size_chars")
    )


ORACLE_PARTIAL = f"""WITH {CORPUS_CTE}
SELECT min(doc_id) AS cluster_id, count(*)::BIGINT AS n_members,
       len(text)::BIGINT AS size_chars
FROM corpus
GROUP BY len(text), substr(text, 1, 64),
         substr(text, greatest(1, len(text) - 63), 64)
HAVING count(*) >= 2"""


def q_transcript_assembly_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 invariant end-to-end: derive 10-word turns from each document,
    reassemble with window-ordered concat, cluster by assembled doc."""
    c = dup_corpus(spark, sf_dir)
    ws = F.split(F.col("text"), " ")
    n_turns = F.ceil(F.size(ws) / 10).cast("int")
    turns = c.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_turns - 1),
                lambda i: F.array_join(F.slice(ws, i * 10 + 1, 10), " "),
            )
        ).alias("turn_idx", "turn_text"),
    ).repartition(16)  # scramble physical order: assembly must not care
    asm = turns.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("turn_idx", "turn_text"))),
                lambda s: s.getField("turn_text"),
            ),
            "\n",
        ).alias("doc")
    )
    return (
        asm.groupBy("doc")
        .agg(F.min("doc_id").alias("cluster_id"), F.count("*").alias("n_members"))
        .filter(F.col("n_members") >= 2)
        .select("cluster_id", "n_members")
    )


ORACLE_ASSEMBLY = f"""WITH {CORPUS_CTE},
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
t AS (SELECT doc_id, unnest(range(0, cast(ceil(len(ws)/10.0) AS int))) AS turn_idx, ws FROM w),
t2 AS (SELECT doc_id, turn_idx,
              array_to_string(ws[turn_idx*10+1 : least(turn_idx*10+10, len(ws))], ' ') AS turn_text
       FROM t),
asm AS (SELECT doc_id, string_agg(turn_text, chr(10) ORDER BY turn_idx) AS doc
        FROM t2 GROUP BY doc_id)
SELECT min(doc_id) AS cluster_id, count(*)::BIGINT AS n_members
FROM asm GROUP BY doc HAVING count(*) >= 2"""


def q_group_signature_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-4 analogue on the source column: canonical sorted content
    signature per source; sources sharing a signature are duplicate groups
    (calculate_folder_signature.go:46-64's sort+join canonicalization).

    The per-source aggregate collects fixed-width PER-TEXT HASHES, never
    the texts themselves — a mega-source (millions of docs) costs the
    aggregating executor 32 bytes/doc, not the corpus (the pipeline path
    does the same with its narrow ``F:<name>:<hash>`` items,
    operators/group_dedup.py)."""
    d = _load(spark, sf_dir, "documents").select("source", "text")
    dup = d.filter(F.col("source").isin("src0", "src1")).select(
        F.concat(F.lit("dup_"), F.col("source")).alias("source"), "text"
    )
    g = d.unionAll(dup).groupBy("source").agg(
        F.xxhash64(
            F.concat_ws(";", F.sort_array(F.collect_list(F.md5("text"))))
        ).alias("_sig")
    )
    w = Window.partitionBy("_sig")
    return (
        g.withColumn("n_groups", F.count("*").over(w))
        .withColumn("cluster_id", F.min("source").over(w))
        .filter(F.col("n_groups") >= 2)
        .select("source", "cluster_id", "n_groups")
    )


ORACLE_GROUP_SIG = """WITH s AS (
  SELECT source, text FROM documents
  UNION ALL SELECT 'dup_' || source, text FROM documents WHERE source IN ('src0','src1')
),
g AS (SELECT source, string_agg(md5(text), ';' ORDER BY md5(text)) AS sig FROM s GROUP BY source)
SELECT g.source AS source, m.cluster_id AS cluster_id, m.n AS n_groups
FROM g JOIN (
  SELECT sig, min(source) AS cluster_id, count(*)::BIGINT AS n
  FROM g GROUP BY sig HAVING count(*) >= 2
) m USING (sig)"""


# ---------------------------------------------------------------------------
# Near-dup: exact n-gram Jaccard (complete, via shared-shingle blocking),
# MinHash/LSH (probabilistic path, verified), SimHash, winnowing spans
# ---------------------------------------------------------------------------

def _shingle_sets(c: DataFrame) -> DataFrame:
    """(doc_id, shset) distinct shingle-hash arrays of the docs with >= k
    words — the pipeline's ``shingle_features`` (int64 elements: narrow
    shuffle payload; the oracle counts shingle strings — identical
    equivalence classes modulo 64-bit collisions). Eagerly materialized
    ONCE: both the blocking self-join and the exact verify derive from this
    checkpoint (at scale this is the p6_features checkpoint table)."""
    from fast_duplicate_finder_spark.operators.neardup import shingle_features

    docs = c.select(
        F.col("doc_id").alias("conv_id"), F.col("text").alias("doc")
    )
    return (
        shingle_features(docs, CFG)
        .filter(F.size("grams") > 0)
        .select(F.col("conv_id").alias("doc_id"), "shset")
        .localCheckpoint(eager=True)
    )


_JACCARD_DF_CAP = 64  # blocking df-cap: a shingle shared by more docs is
                      # corpus boilerplate, not a pair signal (the skew cap
                      # of operators/lsh.py expressed portably — round 1's
                      # uncapped self-join was the flagged scale-killer)


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT word-3-gram Jaccard >= 0.5 via document-frequency-capped,
    prefix-filtered shared-shingle blocking + exact per-candidate
    verification.

    Blocking, two rules composed (both mirrored verbatim in the oracle):

    * df-cap: only shingles present in <= _JACCARD_DF_CAP docs generate
      candidates (hot boilerplate shingles would make the self-join
      quadratic at corpus scale);
    * prefix filter (AllPairs/PPJoin principle, Bayardo et al. WWW'07):
      only each doc's globally-rarest ``n - ceil(tau*n) + 1`` shingles
      generate candidates. For J(A,B) >= tau the canonical prefixes of A
      and B must share an element, so this rule alone is LOSSLESS; we rank
      by df with ties kept (``rank()``, not ``row_number()``) so the rule
      is hash-representation-independent and DuckDB replays it exactly.

    A third rule — the AllPairs LENGTH filter, tau*|A| <= |B| <= |A|/tau
    on the candidate join — is applied Spark-side only: it is implied by
    J >= tau (J <= min(|A|,|B|)/max(|A|,|B|)), so it prunes only
    candidates that exact verification would reject anyway and the oracle
    needs no mirror. Plan shape (1.9x together at sf0.1): df comes from a
    count window over the same shingle-partitioned exchange instead of a
    groupBy + re-join (which shuffled every shingle row twice), and the
    prefix table is eagerly materialized once so the self-join's two
    sides don't each recompute the window-stack lineage.

    Verification: the intersection for surviving candidates uses ALL
    shingles (array_intersect over per-doc shset arrays — joins
    proportional to |candidates|), so reported jaccard values are exact; a
    tau-pair is missed only if EVERY shared prefix shingle is boilerplate
    — the identical rule is applied in the oracle."""
    from fast_duplicate_finder_spark.operators.verify import verify_jaccard

    c = dup_corpus(spark, sf_dir)
    shsets = _shingle_sets(c)
    sh = shsets.select("doc_id", F.explode("shset").alias("s"))
    w_doc = Window.partitionBy("doc_id").orderBy("df")
    w_n = Window.partitionBy("doc_id")
    pref = (
        sh.withColumn("df", F.count("*").over(Window.partitionBy("s")))
        .withColumn("rk", F.rank().over(w_doc))
        .withColumn("n", F.count("*").over(w_n))
        .filter(F.col("rk") <= F.col("n") - F.ceil(F.col("n") * 0.5) + 1)
        .filter((F.col("df") >= 2) & (F.col("df") <= _JACCARD_DF_CAP))
        .select("doc_id", "s", "n")
        .localCheckpoint(eager=True)  # prefix rows only (small); feeds
    )                                 # both sides of the self-join
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # lossless length filter: J >= 0.5 forces sizes within 2x
            & (F.col("b.n") * 2 >= F.col("a.n"))
            & (F.col("a.n") * 2 >= F.col("b.n")),
        )
        .select(
            F.col("a.doc_id").alias("conv_id_a"),
            F.col("b.doc_id").alias("conv_id_b"),
        )
        .distinct()
    )
    # exact verify: array_intersect over per-doc shset arrays — two narrow
    # joins proportional to |candidates|, not |shingle rows| (the round-2
    # double exploded-row join shuffled every shingle of the corpus twice)
    return verify_jaccard(
        cand, shsets.withColumnRenamed("doc_id", "conv_id"), tau=0.5
    ).select(
        F.col("conv_id_a").alias("doc_id_a"),
        F.col("conv_id_b").alias("doc_id_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


_ORACLE_SHINGLES = """sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(ws) - 1),
                                 i -> array_to_string(ws[i:i+2], ' '))) AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus)
    WHERE len(ws) >= 3))"""


def _oracle_jaccard(tau: float) -> str:
    return f"""WITH {CORPUS_CTE},
{_ORACLE_SHINGLES},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_id_a, doc_id_b,
       round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_id_a
JOIN sizes sb ON sb.doc_id = doc_id_b
WHERE i * 1.0 / (sa.n + sb.n - i) >= {tau}"""


ORACLE_JACCARD = f"""WITH {CORPUS_CTE},
{_ORACLE_SHINGLES},
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
dfs AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
pref AS (
  SELECT doc_id, s FROM (
    SELECT doc_id, s, df,
           rank() OVER (PARTITION BY doc_id ORDER BY df) AS rk,
           count(*) OVER (PARTITION BY doc_id) AS n
    FROM sh JOIN dfs USING (s))
  WHERE rk <= n - ceil(n * 0.5) + 1
    AND df BETWEEN 2 AND {_JACCARD_DF_CAP}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id),
inter AS (
  SELECT doc_id_a, doc_id_b, count(*) AS i
  FROM cand
  JOIN sh sa ON sa.doc_id = doc_id_a
  JOIN sh sb ON sb.doc_id = doc_id_b AND sb.s = sa.s
  GROUP BY 1, 2)
SELECT doc_id_a, doc_id_b,
       round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_id_a
JOIN sizes sb ON sb.doc_id = doc_id_b
WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5"""


def _conv_docs(c: DataFrame) -> DataFrame:
    """(conv_id, doc) in the pipeline operators' shape: doc_ids zero-padded
    to 9 digits, so their string order is the numeric order."""
    return c.select(
        F.lpad(F.col("doc_id").cast("string"), 9, "0").alias("conv_id"),
        F.col("text").alias("doc"),
    )


def _doc_id_pair():
    """A pipeline pair's padded (conv_id_a, conv_id_b) as numerically
    oriented BIGINT (doc_id_a, doc_id_b)."""
    ia = F.col("conv_id_a").cast("long")
    ib = F.col("conv_id_b").cast("long")
    return F.least(ia, ib).alias("doc_id_a"), F.greatest(ia, ib).alias("doc_id_b")


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real MinHash/LSH/verify path (north_star) at config tau=0.7.
    Verified by exact Jaccard, so precision is 1.0; the oracle is the
    brute-force tau-pair set (recall check)."""
    from fast_duplicate_finder_spark.functions.minhash import make_minhash_udf
    from fast_duplicate_finder_spark.operators.neardup import (
        minhash_pairs,
        shingle_features,
    )

    docs = _conv_docs(dup_corpus(spark, sf_dir))
    # ONE materialization carrying (shset, minhash): signatures are signed
    # in the same pass that builds the shingle sets, so the banding join
    # and the exact-Jaccard verify both read this checkpoint (the pipeline
    # does the same via the p6_features table; the round-2 query leg
    # checkpointed shset and minhash separately — two back-to-back jobs
    # over the identical rows). `grams` is dropped before materializing:
    # the unused positional array would defeat column pruning
    # (localCheckpoint stores every column).
    mh = make_minhash_udf(CFG.lsh_perms_used, CFG.minhash_seed)
    features = (
        shingle_features(docs, CFG)
        .select("conv_id", "shset", mh("shset").alias("minhash"))
        .localCheckpoint(eager=True)
    )
    verified, _ = minhash_pairs(features, CFG)
    return verified.select(
        *_doc_id_pair(), F.round("jaccard", 6).alias("jaccard")
    )


ORACLE_MINHASH = _oracle_jaccard(0.7)


def portable_shingle_sets(c: DataFrame) -> DataFrame:
    """(doc_id, shset) with md5-portable 64-bit shingle hashes, computed
    WITHOUT an exchange: shingling and hashing both happen inside per-doc
    higher-order transforms, so the plan is scan -> project. (The round-2
    form exploded every shingle string to rows and rebuilt the set with
    groupBy(doc_id).collect_list — a corpus-wide shuffle that existed
    nowhere else in the plan; tests/test_round3_features.py pins the
    exchange-free shape.)"""
    k = CFG.shingle_k
    ws = F.split(F.col("text"), " ")
    shingle_strs = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - k),
            lambda i: F.array_join(F.slice(ws, i + 1, k), " "),
        )
    )

    def _md5_64(s):
        # portable 64-bit shingle hash: top 16 hex chars of md5, parsed as
        # two 32-bit halves (conv returns a decimal STRING; 16 hex chars at
        # once would overflow the signed-long cast for values >= 2^63)
        m = F.md5(s)
        hi = F.conv(F.substring(m, 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(m, 9, 8), 16, 10).cast("long")
        return F.shiftleft(hi, 32).bitwiseOR(lo)

    return c.filter(F.size(ws) >= k).select(
        "doc_id", F.transform(shingle_strs, _md5_64).alias("shset")
    )


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fuzz pairs through the REAL operator path (Arrow bit-vote
    kernel + capped pigeonhole join), made fully oracle-checkable: the
    shingle hash is md5-derived (identical in Spark and DuckDB) instead of
    xxhash64, so DuckDB can replicate the 64 bit-votes, the 4x16-bit chunk
    keys, the bucket cap, and the exact Hamming verification in SQL. The
    pipeline leg keeps xxhash64 (cheaper); the kernel is hash-agnostic."""
    from fast_duplicate_finder_spark.functions.simhash import (
        simhash_candidate_pairs,
        simhash_udf,
    )

    sets = portable_shingle_sets(dup_corpus(spark, sf_dir))
    sims = sets.select(
        F.col("doc_id").alias("conv_id"), simhash_udf("shset").alias("simhash")
    ).localCheckpoint(eager=True)
    pairs, _ = simhash_candidate_pairs(
        sims,
        CFG.simhash_hamming,
        max_bucket=CFG.max_band_bucket,
        n_salt=CFG.band_salt_buckets,
    )
    return pairs.select(
        F.col("conv_id_a").alias("doc_id_a"),
        F.col("conv_id_b").alias("doc_id_b"),
        F.col("hamming").cast("long").alias("hamming"),
    )


def _simhash_oracle() -> str:
    """DuckDB replica of the simhash kernel + pigeonhole join: md5-derived
    64-bit shingle hashes (hi/lo 32-bit halves), per-bit +-1 votes,
    ``simhash_hamming + 1`` pigeonhole chunk keys of ``64 // (h+1)`` bits
    (derived from CFG exactly as functions/simhash.simhash_chunks does, so
    a config change cannot desynchronize query and oracle), bucket cap,
    popcount(XOR) Hamming <= h. When 64 is not divisible by h+1 the
    uncovered top bits form a non-key ``rest`` column that still
    participates in the exact Hamming check (the Spark side verifies on
    the full 64-bit signature)."""
    h = CFG.simhash_hamming
    cap = CFG.max_band_bucket
    n_chunks = h + 1
    width = 64 // n_chunks
    votes = ",\n    ".join(
        [
            f"sum(CASE WHEN (lo >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
            for b in range(32)
        ]
        + [
            f"sum(CASE WHEN (hi >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{32 + b}"
            for b in range(32)
        ]
    )

    def pack(bits: list[int], name: str) -> str:
        return (
            "("
            + " | ".join(
                f"(CASE WHEN v{b} > 0 THEN 1::BIGINT ELSE 0::BIGINT END"
                f" << {j})"
                for j, b in enumerate(bits)
            )
            + f") AS {name}"
        )

    chunk_names = [f"c{c}" for c in range(n_chunks)]
    chunk_defs = [
        pack(list(range(c * width, (c + 1) * width)), f"c{c}")
        for c in range(n_chunks)
    ]
    rest_bits = list(range(n_chunks * width, 64))
    if rest_bits:
        chunk_defs.append(pack(rest_bits, "rest"))
    chunks = ",\n    ".join(chunk_defs)
    sig_cols = ", ".join(chunk_names + (["rest"] if rest_bits else []))
    case_val = (
        "CASE ch.chunk_id "
        + " ".join(f"WHEN {c} THEN c{c}" for c in range(n_chunks - 1))
        + f" ELSE c{n_chunks - 1} END"
    )
    hamming = " + ".join(
        f"bit_count(xor(a.{c}, b.{c}))" for c in chunk_names
    ) + (" + bit_count(xor(a.rest, b.rest))" if rest_bits else "")
    return f"""WITH {CORPUS_CTE},
{_ORACLE_SHINGLES},
hl AS (
  SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS hi,
         ('0x' || substr(md5(s), 9, 8))::BIGINT AS lo
  FROM sh),
votes AS (
  SELECT doc_id,
    {votes}
  FROM hl GROUP BY doc_id),
sig AS (
  SELECT doc_id,
    {chunks}
  FROM votes),
keyed AS (
  SELECT doc_id, {sig_cols}, ch.chunk_id,
         {case_val} AS chunk_val
  FROM sig CROSS JOIN (SELECT unnest(range({n_chunks})) AS chunk_id) ch),
capped AS (
  SELECT * FROM keyed
  QUALIFY count(*) OVER (PARTITION BY chunk_id, chunk_val) <= {cap})
SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       ({hamming})::BIGINT AS hamming
FROM capped a
JOIN capped b ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
             AND a.doc_id < b.doc_id
WHERE {hamming} <= {h}"""


ORACLE_SIMHASH = _simhash_oracle()


def q_winnow_span_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint candidates with a PORTABLE fingerprint (the
    lexicographic min 3-gram per 20-gram window) so DuckDB can replicate:
    pairs sharing a fingerprint == candidates for a >=22-token shared span.

    Catalog-only: no pipeline phase or stream leg winnows (the span leg is
    shingle_features -> span_pairs), so this is the package's one
    winnowing implementation, kept for the query and its DuckDB oracle."""
    c = dup_corpus(spark, sf_dir)
    W = 20
    # window-function winnowing: sliding-window min via a frame over
    # posexploded grams — codegen'd and O(n) rows, vs the interpreted
    # O(n*W) array-slice storm of transform(sequence, i ->
    # array_min(slice(...))) (HOFs are not codegen'd; measured ~7x slower)
    toks = c.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        toks.withColumn(
            "gram",
            F.concat_ws(
                " ", "w", F.lead("w", 1).over(w_doc), F.lead("w", 2).over(w_doc)
            ),
        )
        .withColumn("w2", F.lead("w", 2).over(w_doc))
        .filter(F.col("w2").isNotNull())
        .select("doc_id", "pos", "gram")
    )
    w_frame = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, W - 1)
    )
    w_cnt = Window.partitionBy("doc_id")
    rows = (
        grams.withColumn("fp", F.min("gram").over(w_frame))
        .withColumn("ng", F.count("*").over(w_cnt))
        .withColumn("maxpos", F.max("pos").over(w_cnt))
        .filter(
            (F.col("ng") >= W) & (F.col("pos") <= F.col("maxpos") - (W - 1))
        )
        .select("doc_id", "fp")
        .distinct()
    )
    # stop-fingerprint removal: a fingerprint shared by >8 docs is corpus
    # boilerplate, not a span signal — without this the pair join is
    # quadratic in the hot bucket (the skew cap of operators/lsh.py,
    # expressed portably so the oracle applies the identical rule).
    # Join on the 64-bit hash of the fingerprint, not the string: same
    # equivalence classes, ~10x narrower shuffle payload.
    rows = rows.select("doc_id", F.xxhash64("fp").alias("fp")).localCheckpoint(
        eager=True
    )  # shared by the bucket-size window AND both self-join sides
    w_fp = Window.partitionBy("fp")
    rows = rows.withColumn("fp_docs", F.count("*").over(w_fp)).filter(
        F.col("fp_docs") <= 8
    ).select("doc_id", "fp")
    a = rows.alias("a")
    b = rows.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )


ORACLE_WINNOW = f"""WITH {CORPUS_CTE},
g AS (
  SELECT doc_id,
         list_transform(range(1, len(ws) - 1),
                        i -> array_to_string(ws[i:i+2], ' ')) AS grams
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus)
  WHERE len(ws) >= 3),
fp0 AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(grams) - 18),
                               i -> list_min(grams[i:i+19]))) AS fp
  FROM g WHERE len(grams) >= 20),
fp AS (
  SELECT doc_id, fp FROM fp0
  QUALIFY count(*) OVER (PARTITION BY fp) <= 8)
SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id"""


_SPAN_TOKENS = CFG.span_min_tokens  # shared-span width (tokens)
_SS_WINDOW = max(_SPAN_TOKENS - CFG.shingle_k + 1, 1)  # k-grams per window


def q_span_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT shared-span pairs: the pipeline's p7c leg itself
    (shingle_features -> _supershingle_set -> span_pairs) over the planted
    corpus. Two docs share a contiguous span of >= 40 tokens iff they
    share a supershingle; span_tokens = shared supershingles + 39 (== the
    longest-common-run length for a single shared span). Hot supershingle
    buckets take span_pairs' capped + salted path, as in the pipeline.
    Spark keys a 40-token window by xxhash64 of its k-gram hashes, the
    oracle by the window string: identical equivalence classes modulo
    64-bit collisions. The pipeline splits on whitespace runs, the oracle
    on single spaces: identical on the catalog corpora, which hold no
    doubled, leading or trailing whitespace and no tab or newline."""
    from fast_duplicate_finder_spark.operators.neardup import (
        _supershingle_set,
        shingle_features,
        span_pairs,
    )

    feats = shingle_features(_conv_docs(dup_corpus(spark, sf_dir)), CFG)
    pairs, _ = span_pairs(
        feats.select(
            "conv_id", _supershingle_set(F.col("grams"), _SS_WINDOW).alias("sgs")
        ),
        CFG,
    )
    return pairs.select(
        *_doc_id_pair(), F.col("span_tokens").cast("long").alias("span_tokens")
    )


ORACLE_SPAN_EXACT = f"""WITH {CORPUS_CTE},
t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
ss AS (
  SELECT DISTINCT doc_id, array_to_string(ws[i:i+{_SPAN_TOKENS - 1}], ' ') AS ss
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - {_SPAN_TOKENS - 2})) AS i
        FROM t WHERE len(ws) >= {_SPAN_TOKENS})),
capped AS (
  SELECT * FROM ss
  QUALIFY count(*) OVER (PARTITION BY ss) BETWEEN 2 AND {CFG.max_band_bucket})
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       (count(*) + {_SPAN_TOKENS - 1})::BIGINT AS span_tokens
FROM capped a JOIN capped b ON a.ss = b.ss AND a.doc_id < b.doc_id
GROUP BY 1, 2"""


def _span_occ(c: DataFrame) -> DataFrame:
    """(doc_id, pos, ss, occurrences) positional supershingles of a
    (doc_id, text) DataFrame — a posexplode of the span leg's own
    supershingle expression (neardup._supershingles) over
    shingle_features' grams — with the per-(doc, supershingle) occurrence
    count attached. The single expensive lineage both span-run queries
    start from — callers materialize it ONCE (the session _MATERIALIZED
    cache for the catalog pair, a localCheckpoint in tests) and it then
    feeds the overflow aggregation, the boilerplate bucket window AND both
    self-join sides."""
    from fast_duplicate_finder_spark.operators.neardup import (
        _supershingles,
        shingle_features,
    )

    docs = c.select(F.col("doc_id").alias("conv_id"), F.col("text").alias("doc"))
    sp0 = shingle_features(docs, CFG).select(
        F.col("conv_id").alias("doc_id"),
        F.posexplode(_supershingles(F.col("grams"), _SS_WINDOW)).alias(
            "pos", "ss"
        ),
    )
    occ_w = Window.partitionBy("doc_id", "ss")
    return sp0.withColumn("occurrences", F.count("*").over(occ_w))


def _span_overflow_groups(sp_occ: DataFrame) -> DataFrame:
    """(doc_id, ss, occurrences) repetition groups dropped by the
    occurrence cap — the counted side of the capped/counted rule."""
    return (
        sp_occ.filter(F.col("occurrences") > CFG.max_band_bucket)
        .groupBy("doc_id", "ss")
        .agg(F.max("occurrences").alias("occurrences"))
    )


def _span_runs_from_occ(sp_occ: DataFrame) -> DataFrame:
    """Longest-run pairs from a (materialized) _span_occ table."""
    W = _SPAN_TOKENS
    # Positional matches are occ_a x occ_b per repeated window value
    # WITHIN a pair, so a degenerate doc (one token repeated 10^5 times =
    # one window value at ~10^5 positions) would alone emit ~10^10 match
    # rows. Cap occurrences per (doc, window value) at max_band_bucket —
    # capped, counted, never silent, like every other candidate leg; for
    # a dropped group the reported run is a lower bound (the pair itself
    # survives via its sub-cap window values, if any).
    sp = sp_occ.filter(
        F.col("occurrences") <= CFG.max_band_bucket
    ).drop("occurrences")
    # Same skew rule as span_exact_pairs, counted over DISTINCT docs per
    # window value (a window repeated WITHIN one doc must not trip the
    # boilerplate cap).
    docs = sp.select("doc_id", "ss").distinct()
    keep = (
        docs.withColumn("n", F.count("*").over(Window.partitionBy("ss")))
        .filter((F.col("n") >= 2) & (F.col("n") <= CFG.max_band_bucket))
        .select("ss")
        .distinct()
    )
    m = (
        sp.join(keep, "ss")
        .alias("a")
        .join(
            sp.join(keep, "ss").alias("b"),
            (F.col("a.ss") == F.col("b.ss"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.pos").alias("pa"),
            (F.col("a.pos") - F.col("b.pos")).alias("diag"),
        )
    )
    # (pair, diag, pa) is unique: one window value per position, so for a
    # fixed diagonal each pa matches exactly one pb. Consecutive pa runs on
    # a diagonal <=> one shared contiguous token run.
    w_diag = Window.partitionBy("doc_id_a", "doc_id_b", "diag").orderBy("pa")
    runs = (
        m.withColumn("grp", F.col("pa") - F.row_number().over(w_diag))
        .groupBy("doc_id_a", "doc_id_b", "diag", "grp")
        .agg(F.count("*").alias("run"))
    )
    return runs.groupBy("doc_id_a", "doc_id_b").agg(
        (F.max("run") + W - 1).cast("long").alias("longest_run_tokens")
    )


def _span_occ_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The catalog corpus's _span_occ table, checkpointed once per
    (session, sf_dir): q_span_longest_run and q_span_longest_overflow both
    read it, so running both in one suite costs ONE sp_occ job instead of
    re-executing the whole shingle/supershingle lineage per query."""
    return _materialized(
        spark,
        ("span_occ", sf_dir),
        lambda: _span_occ(dup_corpus(spark, sf_dir)),
    )


def q_span_longest_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT longest shared contiguous token run per qualifying pair —
    the positional refinement of span_exact_pairs. Supershingles keep
    their positions (_span_occ explodes neardup._supershingles, whose
    distinct form is the span leg's sgs set, so both queries read one
    definition); matches land on diagonals (pos_a - pos_b constant)
    and a shared run of L >= 40 tokens is exactly L - 39 consecutive
    window matches on one diagonal, so max-run-per-diagonal + 39 ==
    difflib's longest matching block, INCLUDING the two cases where
    span_exact_pairs's distinct-count is only an estimate: internally
    repetitive spans (distinct undercounts) and multiple disjoint spans
    (distinct sums them). Pair membership is identical to
    span_exact_pairs (same >= 1 shared window rule, same doc-level
    boilerplate cap, modulo the within-doc occurrence cap below). Cost
    over the distinct form: positional rows join occ_a x occ_b per
    repeated window value within a pair — within-doc occurrences are
    capped at max_band_bucket with a counted overflow surfaced as its own
    oracle-checked query (``span_longest_overflow``), so a degenerate
    one-token-repeated doc cannot detonate the join and the drop is never
    silent.
    """
    return _span_runs_from_occ(_span_occ_materialized(spark, sf_dir))


ORACLE_SPAN_LONGEST = f"""WITH {CORPUS_CTE},
t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
sp_raw AS (
  SELECT doc_id, i AS pos, array_to_string(ws[i:i+{_SPAN_TOKENS - 1}], ' ') AS ss
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - {_SPAN_TOKENS - 2})) AS i
        FROM t WHERE len(ws) >= {_SPAN_TOKENS})),
sp AS (
  SELECT doc_id, pos, ss FROM sp_raw
  QUALIFY count(*) OVER (PARTITION BY doc_id, ss) <= {CFG.max_band_bucket}),
keep AS (
  SELECT ss FROM (SELECT DISTINCT doc_id, ss FROM sp)
  GROUP BY ss HAVING count(*) BETWEEN 2 AND {CFG.max_band_bucket}),
m AS (
  SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, a.pos - b.pos AS diag
  FROM sp a JOIN sp b ON a.ss = b.ss AND a.doc_id < b.doc_id
  JOIN keep k ON a.ss = k.ss),
runs AS (
  SELECT da, db, count(*) AS run
  FROM (SELECT da, db, diag, pa,
               pa - row_number() OVER (PARTITION BY da, db, diag ORDER BY pa) AS grp
        FROM m)
  GROUP BY da, db, diag, grp)
SELECT da AS doc_id_a, db AS doc_id_b,
       (max(run) + {_SPAN_TOKENS - 1})::BIGINT AS longest_run_tokens
FROM runs GROUP BY 1, 2"""


def q_span_longest_overflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counted overflow of span_longest_run's within-doc occurrence cap —
    the cap's counter as a first-class query surface (the pipeline's
    "capped, counted, never silent" rule; the pipeline writes its leg
    overflows as their own checkpointed tables, this is the catalog-leg
    analogue). Per doc that holds at least one window value repeated more
    than max_band_bucket times: the number of dropped repetition groups
    and the worst repetition count. Empty on healthy corpora — the
    degenerate repeated-token fixture in
    tests/test_round4_features.py::test_span_longest_run_occurrence_cap
    makes it fire. Doc-level aggregation keeps the output
    hash-representation-independent (Spark groups by xxhash64'd windows,
    DuckDB by the window strings — per-doc counts agree, raw keys don't).
    Reads the SAME _span_occ checkpoint as q_span_longest_run — the
    overflow leg does not re-execute the run leg's lineage."""
    ovf = _span_overflow_groups(_span_occ_materialized(spark, sf_dir))
    return ovf.groupBy("doc_id").agg(
        F.count("*").alias("n_overflow_groups"),
        F.max("occurrences").alias("max_occurrences"),
    )


ORACLE_SPAN_OVERFLOW = f"""WITH {CORPUS_CTE},
t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
sp_raw AS (
  SELECT doc_id, i AS pos, array_to_string(ws[i:i+{_SPAN_TOKENS - 1}], ' ') AS ss
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - {_SPAN_TOKENS - 2})) AS i
        FROM t WHERE len(ws) >= {_SPAN_TOKENS})),
occ AS (
  SELECT doc_id, ss, count(*)::BIGINT AS occurrences
  FROM sp_raw GROUP BY doc_id, ss
  HAVING count(*) > {CFG.max_band_bucket})
SELECT doc_id, count(*)::BIGINT AS n_overflow_groups,
       max(occurrences) AS max_occurrences
FROM occ GROUP BY doc_id"""


def q_span_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the shared-span edge set — the iterative
    min-label + pointer-jumping operator checked against a TRUE transitive
    closure: the DuckDB oracle propagates labels with a recursive CTE
    until fixpoint, so it would catch an under-merged component on ANY
    edge set (connected_components_exact's star edges need no closure at
    all). On this synthetic corpus the span components happen to be
    cliques (verified: 112 pairs == sum of per-component C(n,2) at
    sf0.01); genuinely multi-hop chains are pinned by
    tests/test_neardup.py::test_connected_components_basic. Ids are
    zero-padded so the operator's lexicographic min-label equals the
    oracle's numeric min."""
    from fast_duplicate_finder_spark.operators.connected_components import (
        connected_components,
    )

    pairs = q_span_exact_pairs(spark, sf_dir).select(
        F.lpad(F.col("doc_id_a").cast("string"), 9, "0").alias("conv_id_a"),
        F.lpad(F.col("doc_id_b").cast("string"), 9, "0").alias("conv_id_b"),
    )
    return connected_components(pairs).select("conv_id", "component")


ORACLE_SPAN_COMPONENTS = f"""WITH RECURSIVE {CORPUS_CTE},
t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
ss AS (
  SELECT DISTINCT doc_id, array_to_string(ws[i:i+{_SPAN_TOKENS - 1}], ' ') AS ss
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - {_SPAN_TOKENS - 2})) AS i
        FROM t WHERE len(ws) >= {_SPAN_TOKENS})),
capped AS (
  SELECT * FROM ss
  QUALIFY count(*) OVER (PARTITION BY ss) BETWEEN 2 AND {CFG.max_band_bucket}),
p AS (
  SELECT lpad(a.doc_id::VARCHAR, 9, '0') AS a,
         lpad(b.doc_id::VARCHAR, 9, '0') AS b
  FROM capped a JOIN capped b ON a.ss = b.ss AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
nodes AS (SELECT a AS n FROM p UNION SELECT b AS n FROM p),
edges AS (SELECT a, b FROM p UNION ALL SELECT b AS a, a AS b FROM p),
reach(n, label) AS (
  SELECT n, n AS label FROM nodes
  UNION
  SELECT e.a AS n, r.label FROM edges e JOIN reach r ON e.b = r.n)
SELECT n AS conv_id, min(label) AS component FROM reach GROUP BY n"""


def q_connected_components_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over exact-dup star edges — the clustering
    operator with a transitive-closure-free oracle (exact groups ARE the
    components). The edges come from the pipeline's own p3 + p8 feed:
    full_hash_stage -> exact_clusters -> exact_pairs_from_clusters."""
    from fast_duplicate_finder_spark.operators.connected_components import (
        connected_components,
    )
    from fast_duplicate_finder_spark.operators.exact_cascade import (
        exact_clusters,
        full_hash_stage,
    )
    from fast_duplicate_finder_spark.operators.neardup import (
        exact_pairs_from_clusters,
    )

    docs = _conv_docs(dup_corpus(spark, sf_dir)).withColumn(
        "size", F.length("doc")
    )
    edges = exact_pairs_from_clusters(exact_clusters(full_hash_stage(docs)))
    comp = connected_components(edges)
    return comp.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


ORACLE_CC = f"""WITH {CORPUS_CTE}
SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS component
FROM corpus QUALIFY count(*) OVER (PARTITION BY text) >= 2"""


# ---------------------------------------------------------------------------
# Text analysis (training-data ops)
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "key", "value", "row")


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _load(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    return (
        d.select("lang", F.size(ws).cast("long").alias("nt"),
                 F.length("text").cast("long").alias("nc"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nt").alias("sum_tokens"),
            F.sum("nc").alias("sum_chars"),
        )
    )


ORACLE_TOKEN_STATS = """SELECT lang, count(*)::BIGINT AS n_docs,
       sum(len(string_split(text, ' ')))::BIGINT AS sum_tokens,
       sum(len(text))::BIGINT AS sum_chars
FROM documents GROUP BY lang"""


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features: token counts, uniq ratio denominator,
    stopword hits — all exact ints (quality scoring for data pipelines)."""
    d = _load(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    stop = F.size(
        F.filter(ws, lambda w: w.isin(*_STOPWORDS))
    )
    return d.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(ws)).cast("long").alias("n_uniq_tokens"),
        stop.cast("long").alias("n_stopwords"),
    )


ORACLE_QUALITY = f"""SELECT doc_id,
       len(string_split(text, ' '))::BIGINT AS n_tokens,
       len(list_distinct(string_split(text, ' ')))::BIGINT AS n_uniq_tokens,
       len(list_filter(string_split(text, ' '),
                       x -> x IN {_STOPWORDS!r}))::BIGINT AS n_stopwords
FROM documents"""


# ---------------------------------------------------------------------------
# Events: sessionization (window ops) + exact dedup
# ---------------------------------------------------------------------------

def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min-gap session ids via lag + running sum."""
    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact gap: unix_timestamp() truncates to seconds, which
    # would disagree with the oracle's interval compare (session TZ is UTC,
    # so the NTZ->LTZ cast is identity)
    micros = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    gap = micros - F.lag(micros).over(w)
    flagged = e.withColumn(
        "new_sess",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("new_sess").cast("long").alias("n_sessions"),
    )


ORACLE_SESSIONIZE = """WITH x AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      > INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_sess
  FROM events)
SELECT user_id, count(*)::BIGINT AS n_events, sum(new_sess)::BIGINT AS n_sessions
FROM x GROUP BY user_id"""


def q_events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _load(spark, sf_dir, "events")
    return (
        e.dropDuplicates(["user_id", "event_type", "value"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_distinct"))
    )


ORACLE_EVENTS_DEDUP = """SELECT event_type, count(*)::BIGINT AS n_distinct
FROM (SELECT DISTINCT user_id, event_type, value FROM events)
GROUP BY event_type"""


# ---------------------------------------------------------------------------
# TPC-H style aggregation (general OLAP breadth; exact decimal sums)
# ---------------------------------------------------------------------------

def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money columns are exact 2-decimal values, so the aggregation runs in
    integer cents (BIGINT — exact, associative, order-independent across
    engines and partitionings) with ONE double division at the edge.
    Round 1's DECIMAL(38,4) sums were value-identical to the oracle but
    hash-diverged in the driver's canonicalization of DECIMAL outputs; a
    BIGINT sum divided by a power of ten is bit-identical everywhere."""
    li = _load(spark, sf_dir, "lineitem")
    cents = lambda c: F.round(c * 100).cast("long")  # noqa: E731
    qty_c = cents(F.col("l_quantity"))
    price_c = cents(F.col("l_extendedprice"))
    disc_c = cents(F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.sum(qty_c) / 100.0).alias("sum_qty"),
            (F.sum(price_c) / 100.0).alias("sum_base_price"),
            (F.sum(price_c * (100 - disc_c)) / 10000.0).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


ORACLE_TPCH_Q1 = """SELECT l_returnflag, l_linestatus,
       sum(round(l_quantity * 100)::BIGINT)::DOUBLE / 100.0 AS sum_qty,
       sum(round(l_extendedprice * 100)::BIGINT)::DOUBLE / 100.0 AS sum_base_price,
       sum(round(l_extendedprice * 100)::BIGINT
           * (100 - round(l_discount * 100)::BIGINT))::DOUBLE / 10000.0
         AS sum_disc_price,
       count(*)::BIGINT AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus"""


# ---------------------------------------------------------------------------
# Embedding similarity (ANN / near-dup over vectors)
# ---------------------------------------------------------------------------

from fast_duplicate_finder_spark.functions.vectors import cosine as _cosine  # noqa: E402


def q_embedding_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine near-dup pairs (cos >= 0.999) over embeddings with
    planted copies — the exactness baseline for ANN."""
    e = _emb_corpus(spark, sf_dir)
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cos", _cosine(F.col("a.embedding"), F.col("b.embedding")))
        .filter(F.col("cos") >= 0.999)
        .select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
        )
    )


ORACLE_EMB_DUPS = f"""WITH {EMB_CTE}
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
FROM emb a JOIN emb b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.999"""


def q_embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for the same result: operators/ann.rhp_ann_pairs with ONE
    table of 16 seeded +-1 planes prunes the cross join, exact cosine
    verifies. Identical vectors always share a bucket -> recall 1.0 for
    exact dups, same oracle as the brute-force query. The cap is lifted,
    as in embedding_ann_multitable (the brute-force oracle caps nothing)."""
    from fast_duplicate_finder_spark.operators.ann import rhp_ann_pairs

    pairs, _ = rhp_ann_pairs(
        _emb_corpus(spark, sf_dir),
        n_tables=1,
        n_planes=16,
        min_cos=0.999,
        seed=1234,
        max_bucket=1_000_000,
        n_salt=1,
    )
    return pairs.select("vec_id_a", "vec_id_b")


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the first 20 query vectors
    (similarity search baseline)."""
    e = _load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < 20).alias("q")
    n = e.alias("n")
    scored = (
        q.join(n, F.col("q.vec_id") != F.col("n.vec_id"))
        .withColumn("cos", _cosine(F.col("q.embedding"), F.col("n.embedding")))
        .select(
            F.col("q.vec_id").alias("vec_id"),
            F.col("n.vec_id").alias("neighbor_id"),
            "cos",
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("vec_id", F.col("rank").cast("long").alias("rank"), "neighbor_id")
    )


ORACLE_EMB_TOPK = """SELECT q.vec_id AS vec_id,
       row_number() OVER (PARTITION BY q.vec_id
                          ORDER BY list_cosine_similarity(q.embedding, n.embedding) DESC,
                                   n.vec_id) AS rank,
       n.vec_id AS neighbor_id
FROM embeddings q JOIN embeddings n ON q.vec_id != n.vec_id
WHERE q.vec_id < 20
QUALIFY rank <= 5"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

from fast_duplicate_finder_spark.trainingdata import (  # noqa: E402
    TRAININGDATA_ORACLES,
    TRAININGDATA_QUERIES,
)

QUERIES = {
    "exact_dup_clusters": q_exact_dup_clusters,
    "prefilter_size_groups": q_prefilter_size_groups,
    "partial_hash_groups": q_partial_hash_groups,
    "transcript_assembly_clusters": q_transcript_assembly_clusters,
    "group_signature_dups": q_group_signature_dups,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "simhash_pairs": q_simhash_pairs,
    "winnow_span_candidates": q_winnow_span_candidates,
    "span_exact_pairs": q_span_exact_pairs,
    "span_longest_run": q_span_longest_run,
    "span_longest_overflow": q_span_longest_overflow,
    "span_components": q_span_components,
    "connected_components_exact": q_connected_components_exact,
    "token_stats": q_token_stats,
    "quality_scores": q_quality_scores,
    "events_sessionize": q_events_sessionize,
    "events_dedup": q_events_dedup,
    "tpch_q1": q_tpch_q1,
    "embedding_exact_dups": q_embedding_exact_dups,
    "embedding_ann_lsh": q_embedding_ann_lsh,
    "embedding_topk": q_embedding_topk,
    **TRAININGDATA_QUERIES,
}

ORACLES = {
    "exact_dup_clusters": ORACLE_EXACT_DUP,
    "prefilter_size_groups": ORACLE_PREFILTER,
    "partial_hash_groups": ORACLE_PARTIAL,
    "transcript_assembly_clusters": ORACLE_ASSEMBLY,
    "group_signature_dups": ORACLE_GROUP_SIG,
    "ngram_jaccard_pairs": ORACLE_JACCARD,
    "minhash_lsh_pairs": ORACLE_MINHASH,
    "simhash_pairs": ORACLE_SIMHASH,
    "winnow_span_candidates": ORACLE_WINNOW,
    "span_exact_pairs": ORACLE_SPAN_EXACT,
    "span_longest_run": ORACLE_SPAN_LONGEST,
    "span_longest_overflow": ORACLE_SPAN_OVERFLOW,
    "span_components": ORACLE_SPAN_COMPONENTS,
    "connected_components_exact": ORACLE_CC,
    "token_stats": ORACLE_TOKEN_STATS,
    "quality_scores": ORACLE_QUALITY,
    "events_sessionize": ORACLE_SESSIONIZE,
    "events_dedup": ORACLE_EVENTS_DEDUP,
    "tpch_q1": ORACLE_TPCH_Q1,
    "embedding_exact_dups": ORACLE_EMB_DUPS,
    "embedding_ann_lsh": ORACLE_EMB_DUPS,
    "embedding_topk": ORACLE_EMB_TOPK,
    **TRAININGDATA_ORACLES,
}
