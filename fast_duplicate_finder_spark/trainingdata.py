"""Training-data pipeline operators beyond the reference's dedup scope:
language identification, regex (BPE-ish) tokenization, IVF-style ANN over
embeddings, and multimodal binary-payload metadata extraction.

Each operator is exposed as a ``(spark, sf_dir) -> DataFrame`` query with a
DuckDB oracle producing identical rows (registered via queries.py). The
reference engine (maxthedon/fast-duplicate-finder) has none of these; they
are the 100 TB-corpus companions of its dedup cascade (see SURVEY.md §2
"beyond the reference" and BASELINE.json north_star).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Language identification — profile-based n-gram/token heuristic
# ---------------------------------------------------------------------------

_PROFILE_TOP = 20


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained token-profile language ID + confusion matrix.

    Train: per language, the top-20 tokens by frequency (tie-break: token
    asc) over the labeled documents. Classify: each doc's distinct tokens
    are intersected with every profile; predicted language = argmax overlap
    (tie-break: lang asc). Output: (lang, pred_lang, n_docs) confusion
    counts. Fully deterministic; both the train and classify legs are
    single-shuffle aggregations and the profile join is a broadcast
    (5 langs x 20 tokens).
    """
    d = _load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    counts = toks.groupBy("lang", "token").agg(F.count("*").alias("cnt"))
    w_rank = Window.partitionBy("lang").orderBy(
        F.desc("cnt"), F.asc("token")
    )
    profile = (
        counts.withColumn("r", F.row_number().over(w_rank))
        .filter(F.col("r") <= _PROFILE_TOP)
        .select(F.col("lang").alias("profile_lang"), "token")
    )
    doc_toks = toks.select("doc_id", "lang", "token").distinct()
    scores = (
        doc_toks.join(F.broadcast(profile), "token")
        .groupBy("doc_id", "lang", "profile_lang")
        .agg(F.count("*").alias("score"))
    )
    w_pred = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("profile_lang")
    )
    pred = (
        scores.withColumn("r", F.row_number().over(w_pred))
        .filter(F.col("r") == 1)
        .select("doc_id", "lang", F.col("profile_lang").alias("pred_lang"))
    )
    return pred.groupBy("lang", "pred_lang").agg(
        F.count("*").alias("n_docs")
    )


ORACLE_LANG_ID = f"""WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
  FROM documents),
profile AS (
  SELECT lang AS profile_lang, token FROM (
    SELECT lang, token, count(*) AS cnt FROM toks GROUP BY lang, token)
  QUALIFY row_number() OVER (PARTITION BY lang
                             ORDER BY cnt DESC, token ASC) <= {_PROFILE_TOP}),
doc_toks AS (SELECT DISTINCT doc_id, lang, token FROM toks),
scores AS (
  SELECT doc_id, lang, profile_lang, count(*) AS score
  FROM doc_toks JOIN profile USING (token)
  GROUP BY doc_id, lang, profile_lang),
pred AS (
  SELECT doc_id, lang, profile_lang AS pred_lang FROM scores
  QUALIFY row_number() OVER (PARTITION BY doc_id
                             ORDER BY score DESC, profile_lang ASC) = 1)
SELECT lang, pred_lang, count(*)::BIGINT AS n_docs
FROM pred GROUP BY lang, pred_lang"""


# ---------------------------------------------------------------------------
# Regex (BPE-ish) tokenization — the token-counting leg of quality scoring
# ---------------------------------------------------------------------------

_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def q_regex_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token accounting under a BPE-ish regex tokenizer
    (letters / digit-runs / punctuation) vs whitespace tokens — all
    JVM-side ``regexp_extract_all``, no Python."""
    d = _load(spark, sf_dir, "documents")
    regex_toks = F.regexp_extract_all("text", F.lit(_TOKEN_RE), 0)
    ws_toks = F.split(F.col("text"), " ")
    return (
        d.select(
            "lang",
            F.size(regex_toks).cast("long").alias("nr"),
            F.size(ws_toks).cast("long").alias("nw"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nr").alias("sum_regex_tokens"),
            F.sum("nw").alias("sum_ws_tokens"),
        )
    )


ORACLE_REGEX_TOKENS = f"""SELECT lang, count(*)::BIGINT AS n_docs,
       sum(len(regexp_extract_all(text, '{_TOKEN_RE}')))::BIGINT AS sum_regex_tokens,
       sum(len(string_split(text, ' ')))::BIGINT AS sum_ws_tokens
FROM documents GROUP BY lang"""


# ---------------------------------------------------------------------------
# IVF-style ANN over embeddings (the scale path beyond brute force)
# ---------------------------------------------------------------------------

_N_CENTROIDS = 8
_IVF_TOPK = 3


from fast_duplicate_finder_spark.functions.vectors import cosine as _cosine  # noqa: E402
from fast_duplicate_finder_spark.operators.kmeans import (  # noqa: E402
    in_cell_topk,
    ivf_topk,
    kmeans_fit,
)


def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: vectors are bucketed to their nearest of 8
    fixed coarse centroids (the embeddings of vec_id 0..7 — a deterministic
    stand-in for a k-means codebook); each query (vec_id < 20) searches only
    its own cell. The centroid table is 8 rows -> broadcast nested-loop on
    the assignment, then one equi-join on cell for the search: the cross
    join brute force is replaced by |cell| ~ N/8 candidates per query.
    Only the assignment (cosine to fixed seeds) is this query's own; the
    search is kmeans.in_cell_topk. The trained-codebook path (~sqrt(N)
    centroids at scale) is embedding_kmeans_ivf_topk, which runs
    kmeans.kmeans_fit and kmeans.ivf_topk."""
    e = _load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = e.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )
    scored = e.crossJoin(F.broadcast(cents)).withColumn(
        "ccos", _cosine(F.col("embedding"), F.col("centroid"))
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("ccos"), F.asc("centroid_id")
    )
    assigned = (
        scored.withColumn("r", F.row_number().over(w_assign))
        .filter(F.col("r") == 1)
        .select("vec_id", "embedding", F.col("centroid_id").alias("cell"))
    )
    return in_cell_topk(
        assigned.filter(F.col("vec_id") < 20), assigned, _IVF_TOPK
    ).select("vec_id", "rank", "neighbor_id")


ORACLE_IVF = f"""WITH cents AS (
  SELECT vec_id AS centroid_id, embedding AS centroid FROM embeddings
  WHERE vec_id < {_N_CENTROIDS}),
assigned AS (
  SELECT vec_id, embedding, centroid_id AS cell
  FROM embeddings CROSS JOIN cents
  QUALIFY row_number() OVER (
    PARTITION BY vec_id
    ORDER BY list_cosine_similarity(embedding, centroid) DESC,
             centroid_id ASC) = 1)
SELECT q.vec_id AS vec_id,
       row_number() OVER (PARTITION BY q.vec_id
                          ORDER BY list_cosine_similarity(q.embedding, n.embedding) DESC,
                                   n.vec_id ASC) AS rank,
       n.vec_id AS neighbor_id
FROM assigned q JOIN assigned n ON q.cell = n.cell AND q.vec_id != n.vec_id
WHERE q.vec_id < 20
QUALIFY rank <= {_IVF_TOPK}"""


# ---------------------------------------------------------------------------
# Multi-table RHP-LSH ANN (operators/ann.py) — bucketing-sensitive oracle
# ---------------------------------------------------------------------------

_ANN_TABLES = 4
_ANN_PLANES = 8
_ANN_MIN_COS = 0.35
_ANN_SEED = 4321


def q_embedding_ann_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-neighbor pairs via multi-table random-hyperplane LSH
    (operators/ann.rhp_ann_pairs: 4 tables x 8 planes, ONE equi self-join
    over the exploded (table, bucket) rows) + exact cosine verify.

    ``min_cos=0.35`` is deliberately inside the testdata's random-cosine
    tail (the embeddings table has no planted near structure, max natural
    cosine ~0.46): only ~6% of such pairs collide in any of the 4 tables,
    so the DuckDB oracle — which replays the plane signs and bucket packing
    bit-for-bit — verifies the BUCKETING, not just the verify filter. A
    wrong plane order, bit weight, or table split changes the emitted set.
    The cap is lifted for the catalog run (the oracle does not replicate
    capping; the capped + salted path is exercised by tests/test_ann.py and
    scripts/ann_recall_probe.py)."""
    from fast_duplicate_finder_spark.operators.ann import rhp_ann_pairs

    e = _load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pairs, _overflow = rhp_ann_pairs(
        e,
        n_tables=_ANN_TABLES,
        n_planes=_ANN_PLANES,
        min_cos=_ANN_MIN_COS,
        dim=64,
        max_bucket=1_000_000,
        n_salt=1,
        seed=_ANN_SEED,
    )
    return pairs.select("vec_id_a", "vec_id_b")


def _ann_oracle() -> str:
    """SQL replica of the multi-table bucketing: per-table packed sign bits
    with the SAME plane literals (rhp_planes is deterministic in the seed),
    candidates from any-table collision, exact cosine verify. DOUBLE[]
    casts keep both engines' dot products in double accumulation."""
    from fast_duplicate_finder_spark.operators.ann import rhp_planes

    planes = rhp_planes(_ANN_TABLES, _ANN_PLANES, 64, _ANN_SEED)
    selects = []
    for t, table in enumerate(planes):
        bits = " + ".join(
            "(CASE WHEN list_dot_product(embedding::DOUBLE[], "
            f"[{', '.join(str(x) for x in plane)}]::DOUBLE[]) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i, plane in enumerate(table)
        )
        selects.append(
            f"SELECT vec_id, {t} AS t, ({bits}) AS bucket FROM embeddings"
        )
    bk = "\n  UNION ALL ".join(selects)
    return f"""WITH bk AS (
  {bk}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
  FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket
                     AND a.vec_id < b.vec_id)
SELECT c.vec_id_a, c.vec_id_b
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.vec_id_a
JOIN embeddings eb ON eb.vec_id = c.vec_id_b
WHERE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
      >= {_ANN_MIN_COS}"""


# DuckDB 1.0.0 is the engine this oracle is pinned to; its margin from
# summation order is asserted in tests/test_queries_vs_duckdb.py.
ORACLE_ANN_MULTITABLE = _ann_oracle()


# ---------------------------------------------------------------------------
# Multimodal binary-payload metadata (decode step stubbed; plumbing real)
# ---------------------------------------------------------------------------

def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata extraction end to end. 'image' rows carry a
    REAL PNG container (png_payload_col wraps the text bytes in a
    signature + IHDR built from JVM expressions) whose dimensions are
    planted from doc_id — the Arrow ``mapInPandas`` kernel must recover
    them by actually parsing the bytes (parse_png_header). 'audio'/'video'
    rows stay raw utf-8 text bytes — no recognized container — and
    exercise the documented decode_stub fallback. The oracle predicts the
    image dimensions from the same doc_id arithmetic and the stub fields
    from octet_length + code-point sums (ASCII corpus: code point ==
    byte), so a kernel that stopped parsing (or a fallback that stopped
    falling back) hash-mismatches."""
    from fast_duplicate_finder_spark.functions.multimodal import (
        extract_media_meta,
        png_payload_col,
    )

    media_type = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    body = F.encode("text", "utf-8")
    d = _load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        F.when(
            media_type == "image",
            png_payload_col(
                F.col("doc_id") % 640 + 1,
                (F.col("doc_id") * 7) % 480 + 1,
                body,
            ),
        ).otherwise(body).alias("payload"),
        media_type.alias("media_type"),
    )
    meta = extract_media_meta(d)
    return meta.groupBy("media_type").agg(
        F.count("*").alias("n_items"),
        F.sum("n_bytes").alias("sum_bytes"),
        F.sum(F.col("width").cast("long")).alias("sum_width"),
        F.sum(F.col("height").cast("long")).alias("sum_height"),
        F.sum(F.col("n_frames").cast("long")).alias("sum_frames"),
        F.sum("checksum").alias("sum_checksum"),
    )


def _oracle_multimodal() -> str:
    """Image rows: 33-byte PNG header (fixed-byte sum + the 2 meaningful
    big-endian bytes of each planted dimension) + the first 31 text bytes
    fill the kernel's 64-byte checksum window; dimensions come from the
    doc_id arithmetic png_payload_col planted. Non-image rows replicate
    decode_stub."""
    from fast_duplicate_finder_spark.functions.multimodal import (
        PNG_HEADER_BYTES,
        PNG_HEADER_FIXED_SUM,
    )

    return f"""WITH m AS (
  SELECT doc_id,
         ['image','audio','video'][(doc_id % 3 + 1)::INT] AS media_type,
         octet_length(encode(text)) AS n_bytes,
         doc_id % 640 + 1 AS pw,
         (doc_id * 7) % 480 + 1 AS ph,
         list_sum(list_transform(regexp_extract_all(substr(text, 1, 64), '.'),
                                 x -> unicode(x))) AS checksum,
         list_sum(list_transform(regexp_extract_all(substr(text, 1, 31), '.'),
                                 x -> unicode(x))) AS checksum31
  FROM documents)
SELECT media_type, count(*)::BIGINT AS n_items,
       sum(CASE WHEN media_type = 'image'
                THEN n_bytes + {PNG_HEADER_BYTES} ELSE n_bytes
           END)::BIGINT AS sum_bytes,
       sum(CASE WHEN media_type = 'image'
                THEN pw ELSE n_bytes % 640 + 1 END)::BIGINT AS sum_width,
       sum(CASE WHEN media_type = 'image'
                THEN ph ELSE (n_bytes * 7) % 480 + 1
           END)::BIGINT AS sum_height,
       sum(CASE WHEN media_type = 'image'
                THEN 1 ELSE n_bytes % 16 + 1 END)::BIGINT AS sum_frames,
       sum(CASE WHEN media_type = 'image'
                THEN {PNG_HEADER_FIXED_SUM} + pw // 256 + pw % 256
                     + ph // 256 + ph % 256 + coalesce(checksum31, 0)
                ELSE coalesce(checksum, 0)
           END)::BIGINT AS sum_checksum
FROM m GROUP BY media_type"""


ORACLE_MULTIMODAL = _oracle_multimodal()


# ---------------------------------------------------------------------------
# TPC-H Q3 (join breadth: filter -> broadcast dim -> fact join -> agg)
# ---------------------------------------------------------------------------

def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority query: BUILDING-segment customers' un-shipped
    revenue per order. customer is the small side -> broadcast; orders x
    lineitem is the fact join (shuffle on orderkey); date predicates push
    down to the parquet scans."""
    cust = _load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1997-06-01"
    )
    li = _load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1997-06-01"
    )
    # exact integer-cents aggregation (see q_tpch_q1): BIGINT sums are
    # order-independent and hash-canonical across engines, unlike the
    # round-1 DECIMAL(38,4) formulation
    cents = lambda c: F.round(c * 100).cast("long")  # noqa: E731
    revenue_u = cents(F.col("l_extendedprice")) * (
        100 - cents(F.col("l_discount"))
    )
    return (
        li.join(
            orders.join(
                F.broadcast(cust.select("c_custkey")),
                F.col("o_custkey") == F.col("c_custkey"),
            ).select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(revenue_u) / 10000.0).alias("revenue"))
    )


ORACLE_TPCH_Q3 = """SELECT l_orderkey, o_orderdate, o_orderpriority,
       sum(round(l_extendedprice * 100)::BIGINT
           * (100 - round(l_discount * 100)::BIGINT))::DOUBLE / 10000.0 AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-01'
  AND l_shipdate > TIMESTAMP '1997-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority"""


_KM_K = 8
_KM_ITER = 3
_KM_TOPK = 3


def q_embedding_kmeans_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-codebook IVF: operators/kmeans.kmeans_fit (Lloyd's in
    BIGINT fixed point, so the trained codebook — and therefore the cell
    assignment — is bit-identical across engines and partitionings, and
    DuckDB can replay the full 3-iteration training in SQL), then
    kmeans.ivf_topk for the first 20 queries: the in-cell top-3 by exact
    cosine of the ORIGINAL float embeddings (same cross-engine-stable
    expression as the green embedding_topk oracle); only the cell
    assignment is integer-exact."""
    e = _load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return ivf_topk(
        e,
        e.filter(F.col("vec_id") < 20),
        kmeans_fit(e, k=_KM_K, n_iter=_KM_ITER),
        topk=_KM_TOPK,
    ).select("vec_id", "rank", "neighbor_id")


def _kmeans_oracle() -> str:
    """DuckDB replica of kmeans_fit + in-cell top-k: the 3 Lloyd's
    iterations are unrolled as CTE pairs (assign a{i} under codebook c{i},
    update c{i+1} with empty-cell fallback). All arithmetic is BIGINT fixed
    point — bit-identical to the Spark operator by construction."""
    dist = (
        "list_sum(list_transform(range(1, len(q.qv) + 1), "
        "j -> (1024 * q.qv[j] - c.m[j]) * (1024 * q.qv[j] - c.m[j])))"
    )
    parts = [
        f"""qv AS (
  SELECT vec_id,
         list_transform(embedding, x -> round(x::DOUBLE * 10000)::BIGINT) AS qv
  FROM embeddings),
c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
         list_transform(qv, x -> 1024 * x) AS m
  FROM qv ORDER BY vec_id LIMIT {_KM_K})"""
    ]
    for i in range(_KM_ITER):
        parts.append(f"""a{i} AS (
  SELECT q.vec_id, q.qv, c.centroid_id AS cell
  FROM qv q CROSS JOIN c{i} c
  QUALIFY row_number() OVER (PARTITION BY q.vec_id
                             ORDER BY {dist} ASC, c.centroid_id ASC) = 1),
u{i} AS (
  SELECT cell AS centroid_id,
         list(floor(1024.0 * s / n + 0.5)::BIGINT ORDER BY j) AS m
  FROM (SELECT cell, j, sum(x) AS s, count(*) AS n
        FROM (SELECT cell, unnest(qv) AS x,
                     unnest(range(1, len(qv) + 1)) AS j
              FROM a{i})
        GROUP BY cell, j)
  GROUP BY cell),
c{i + 1} AS (
  SELECT p.centroid_id, coalesce(u.m, p.m) AS m
  FROM c{i} p LEFT JOIN u{i} u USING (centroid_id))""")
    parts.append(f"""afinal AS (
  SELECT q.vec_id, c.centroid_id AS cell
  FROM qv q CROSS JOIN c{_KM_ITER} c
  QUALIFY row_number() OVER (PARTITION BY q.vec_id
                             ORDER BY {dist} ASC, c.centroid_id ASC) = 1),
placed AS (
  SELECT a.vec_id, a.cell, e.embedding
  FROM afinal a JOIN embeddings e USING (vec_id))""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT q.vec_id AS vec_id,
       row_number() OVER (PARTITION BY q.vec_id
                          ORDER BY list_cosine_similarity(q.embedding, n.embedding) DESC,
                                   n.vec_id ASC) AS rank,
       n.vec_id AS neighbor_id
FROM placed q JOIN placed n ON q.cell = n.cell AND q.vec_id != n.vec_id
WHERE q.vec_id < 20
QUALIFY rank <= {_KM_TOPK}"""
    )


ORACLE_KMEANS_IVF = _kmeans_oracle()


TRAININGDATA_QUERIES = {
    "embedding_kmeans_ivf_topk": q_embedding_kmeans_ivf_topk,
    "lang_id_confusion": q_lang_id_confusion,
    "regex_token_counts": q_regex_token_counts,
    "embedding_ivf_topk": q_embedding_ivf_topk,
    "embedding_ann_multitable": q_embedding_ann_multitable,
    "multimodal_meta": q_multimodal_meta,
    "tpch_q3": q_tpch_q3,
}

TRAININGDATA_ORACLES = {
    "embedding_kmeans_ivf_topk": ORACLE_KMEANS_IVF,
    "lang_id_confusion": ORACLE_LANG_ID,
    "regex_token_counts": ORACLE_REGEX_TOKENS,
    "embedding_ivf_topk": ORACLE_IVF,
    "embedding_ann_multitable": ORACLE_ANN_MULTITABLE,
    "multimodal_meta": ORACLE_MULTIMODAL,
    "tpch_q3": ORACLE_TPCH_Q3,
}
