"""JSON adapter over the benchmark's query catalog.

Default mode: run the ``HEADLINE`` queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line::

    {"metric": "...", "value": <total sec>, "unit": "sec", "method": "...",
     "queries": {...}, "sf": ..., "corpus_turns": ..., "turns_per_sec": ...}

The work is ``perfbench/catalog.py`` (the ``catalog_sf0.1`` workload of
``perfbench/run.py``): one untimed pass, then one timed pass that fully
materializes each query with a noop write, with row counts that must repeat
across the passes and rows that must equal each query's DuckDB oracle. The
process exits 1 when a query fails, changes its row count or differs from
its oracle.

Totals recorded with ``.count()`` (``BENCH_r01``–``r05``) are a different
method: ``count()`` lets Spark prune computed columns, so never compare a
total across the two. Cross-run verdicts come from ``perfbench/repeat.py``
and ``perfbench/compare.py``.

``--scaling`` mode: delegates to the documented N-vs-4N protocol
(``scripts/scaling_ladder.py`` — local-cluster executor JVMs, warm-up run
per leg, interleaved best-of-R; results belong in BENCH/BASELINE.md).
"""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import sys
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "exact_dup_clusters",
    "transcript_assembly_clusters",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "winnow_span_candidates",
    "connected_components_exact",
    "group_signature_dups",
    "embedding_ann_lsh",
    "embedding_ann_multitable",
    "events_sessionize",
    "tpch_q1",
    "tpch_q3",
    "lang_id_confusion",
    "regex_token_counts",
    "embedding_ivf_topk",
    "multimodal_meta",
]


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _count_turns(spark, sf_dir: str) -> int:
    """Corpus size proxy for turns/sec: total derived 10-word turns of the
    planted dup corpus (what transcript_assembly_clusters processes)."""
    from pyspark.sql import functions as F
    from fast_duplicate_finder_spark.queries import dup_corpus

    return (
        dup_corpus(spark, sf_dir)
        .select(F.ceil(F.size(F.split("text", " ")) / 10).alias("nt"))
        .agg(F.sum("nt"))
        .collect()[0][0]
    )


def run_headline() -> int:
    sys.path.insert(0, os.path.join(HERE, "perfbench"))
    import catalog

    from fast_duplicate_finder_spark.session import get_spark

    spark = get_spark("bench", cores=CPUS, shuffle_partitions=max(CPUS, 8))
    # the catalog names failed queries on stdout, which carries only the
    # JSON line here
    try:
        with contextlib.redirect_stdout(sys.stderr):
            state = catalog.setup(spark, SimpleNamespace(data_dir=SF_DIR), None)
            res = catalog.measure(spark, state, 0.0)
        turns = _count_turns(spark, SF_DIR)
    finally:
        spark.stop()
    per_query = {q: round(res["layers"][f"catalog.{q}.s"], 3)
                 for q in HEADLINE}
    total = res["e2e"]["catalog_s"]
    print(json.dumps({
        "metric": "headline_suite_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "method": "noop write per query, one timed pass after one untimed "
                  "pass, rows checked against the DuckDB oracles",
        "queries": per_query,
        "sf": _sf_of(SF_DIR),
        "corpus_turns": turns,
        "turns_per_sec": round(turns / total, 1) if total else None,
    }))
    if res["failed"]:
        print(f"bench: {res['failed']} failed query run(s) or oracle "
              "mismatch(es)", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        extra = [a for a in sys.argv[1:] if a != "--scaling"]
        # honor the documented corpus-size knob (otherwise the ladder's
        # own 800k-conv default silently replaces a requested small run)
        if (
            "SPARK_GRAFT_SCALE_CONVS" in os.environ
            and "--n-convs" not in extra
        ):
            extra += ["--n-convs", os.environ["SPARK_GRAFT_SCALE_CONVS"]]
        sys.exit(subprocess.call(
            [sys.executable, os.path.join(HERE, "scripts", "scaling_ladder.py")]
            + extra
        ))
    sys.exit(run_headline())
