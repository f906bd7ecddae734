"""Output check shared by the planted workloads, run outside the timed
window: cluster-level recall of the planted duplicate pairs.

Ground truth follows ``evaluation.ground_truth_tiers`` tier for tier
(missing / exact / near at ``jaccard_tau`` / below), derived from the
realized data with the repository's driver-side oracle (``tests/oracle``:
assembly, word shingles, Jaccard). It runs on the driver because the
planted slice is small: the distributed scorer costs 10-20 s of cold Spark
jobs per run, more than the run budget leaves.
"""

from __future__ import annotations


def planted_truth(transcripts, n_convs: int) -> list[tuple[str, str, str]]:
    """(conv_id_a, conv_id_b, tier) for every planted pair."""
    from fast_duplicate_finder_spark.config import DEFAULT_CONFIG as cfg
    from fast_duplicate_finder_spark.evaluation import PLANTED_PAIR_OFFSETS
    from pyspark.sql import functions as F
    from tests.oracle import assemble_locally, jaccard, shingles

    offsets = sorted({o for p in PLANTED_PAIR_OFFSETS for o in p})
    rows = (transcripts
            .filter(F.pmod(F.substring("conv_id", 5, 9).cast("long"), 20)
                    .isin(offsets))
            .select("conv_id", "turn_idx", "role", "text").collect())
    docs = assemble_locally(rows)
    sh = {c: shingles(d, cfg.shingle_k) for c, d in docs.items()}
    out = []
    for block in range(n_convs // 20):
        for oa, ob in PLANTED_PAIR_OFFSETS:
            a, b = (f"conv{block * 20 + o:09d}" for o in (oa, ob))
            if a not in docs or b not in docs:
                tier = "missing"
            elif docs[a] == docs[b]:
                tier = "exact"
            elif jaccard(sh[a], sh[b]) >= cfg.jaccard_tau:
                tier = "near"
            else:
                tier = "below"
            out.append((a, b, tier))
    return out


def cluster_recall(truth, labels: dict[str, str]) -> dict:
    """``recall_clusters`` over the exact+near tiers, ``recall_exact_
    clusters`` and ``n_missing_input_pairs``, as evaluation.recall_report
    names them. ``labels`` maps conv_id -> component."""
    n = {"exact": 0, "near": 0, "missing": 0, "below": 0}
    hit = {"exact": 0, "near": 0}
    for a, b, tier in truth:
        n[tier] += 1
        if tier in hit and labels.get(a) is not None \
                and labels.get(a) == labels.get(b):
            hit[tier] += 1
    dup = n["exact"] + n["near"]
    return {
        "recall_clusters": (hit["exact"] + hit["near"]) / dup if dup else 0.0,
        "recall_exact_clusters":
            hit["exact"] / n["exact"] if n["exact"] else 0.0,
        "n_missing_input_pairs": n["missing"],
        "n_dup_pairs": dup,
        "n_below_tau_excluded": n["below"],
    }


def gate(rep: dict) -> bool:
    return bool(rep["recall_clusters"] >= 0.99
                and rep["recall_exact_clusters"] == 1.0
                and rep["n_missing_input_pairs"] == 0)


def components(pairs) -> dict[str, str]:
    """conv_id -> smallest conv_id of its connected component, by
    union-find over ``(conv_id_a, conv_id_b)`` pairs."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def labels_of(df, conv_col: str = "conv_id", label_col: str = "component"
              ) -> dict[str, str]:
    return {r[0]: r[1] for r in df.select(conv_col, label_col).collect()}
