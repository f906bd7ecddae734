"""Workload ``catalog_sf0.1``: the ``bench.HEADLINE`` queries of the
catalog (``queries.QUERIES``), each fully materialized with a noop write,
against a catalog data directory (``--data-dir``, e.g. the sf0.1 tables).

Timing what a query returns: ``count()`` lets Spark prune computed columns
(the ROADMAP measured ``events_sessionize``'s window and
``regex_token_counts``' ``regexp_extract_all`` dropped), so every pass
writes all columns to the ``noop`` sink. Row counts ride the write as an
Observation and must repeat across passes; each query's rows must equal
its DuckDB oracle. The queries run under one job group each, so the traced
run can attribute stages per query.

Not in BENCHMARK.json: its tables live outside the checkout, and a warm
suite alone takes about a minute on 4 vCPUs (see BASELINE.md).
"""

from __future__ import annotations

import time
import traceback

from harness import StageMetrics, layer_totals, median

# The computed columns the self-test requires in each measured plan.
PLAN_MARKERS = {"events_sessionize": "Window",
                "regex_token_counts": "regexp_extract_all"}


def _headline() -> list[str]:
    from bench import HEADLINE

    return list(HEADLINE)


def _materialize(spark, name: str, data_dir: str) -> tuple[float, int]:
    """(seconds, rows) of one full materialization of query ``name``."""
    from fast_duplicate_finder_spark.queries import QUERIES
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    spark.sparkContext.setJobGroup(f"catalog:{name}", f"catalog {name}")
    obs = Observation(f"rows_{name}")
    t0 = time.perf_counter()
    QUERIES[name](spark, data_dir).observe(obs, F.count(F.lit(1)).alias("n")) \
        .write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    return dt, obs.get["n"]


def setup(spark, args, work: str) -> dict:
    """One untimed pass: fills the catalog's session caches (_MATERIALIZED)
    and compiles every plan."""
    rows = {q: _materialize(spark, q, args.data_dir)[1] for q in _headline()}
    return {"data_dir": args.data_dir, "rows": rows}


def _oracle_mismatches(spark, data_dir: str) -> list[str]:
    import duckdb

    from fast_duplicate_finder_spark.queries import ORACLES, QUERIES
    from tests.test_queries_vs_duckdb import TABLES, _rows

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{data_dir}/{t}.parquet'")
    bad = []
    spark.sparkContext.setJobGroup("perfbench-check", "oracle check")
    for name in _headline():
        df = QUERIES[name](spark, data_dir)
        rel = con.sql(ORACLES[name])
        duck_cols = [d[0] for d in rel.description]
        if sorted(df.columns) != sorted(duck_cols) or _rows(
                df.columns, [tuple(r) for r in df.collect()]) != _rows(
                duck_cols, rel.fetchall()):
            bad.append(name)
    return bad


def measure(spark, state: dict, seconds: float, tracer=None) -> dict:
    """Passes over the suite until ``seconds`` have passed (at least one);
    per query the median over passes."""
    names = _headline()
    times: dict[str, list[float]] = {q: [] for q in names}
    attempted = failed = 0
    t_start = time.perf_counter()
    while not times[names[0]] or time.perf_counter() - t_start < seconds:
        for q in names:
            attempted += 1
            try:
                dt, n = _materialize(spark, q, state["data_dir"])
            except Exception:  # noqa: BLE001 — counted
                traceback.print_exc()
                failed += 1
                continue
            times[q].append(dt)
            if n != state["rows"][q]:
                print(f"catalog: {q} rows {n} != {state['rows'][q]} "
                      "in the first pass")
                failed += 1
        if tracer is not None:
            break
    bad = _oracle_mismatches(spark, state["data_dir"])
    for q in bad:
        print(f"catalog: {q} differs from its DuckDB oracle")
    failed += len(bad)
    per_query = {q: median(ts) for q, ts in times.items()}
    layers = {f"catalog.{q}.s": s for q, s in per_query.items()}
    if tracer is not None:
        t_hook = time.perf_counter()
        metrics = StageMetrics(spark)
        per_group = metrics.collect({f"catalog:{q}" for q in names})
        for q in names:
            g = {k: v for k, v in per_group.items() if k == f"catalog:{q}"}
            for f, v in layer_totals(metrics, g).items():
                layers[f"catalog.{q}.{f}"] = v
        tracer.overhead_s += time.perf_counter() - t_hook
    return {
        "attempted": attempted + len(names),
        "failed": failed,
        "samples": min(len(ts) for ts in times.values()),
        "wall_s": sum(per_query.values()),
        "e2e": {"catalog_s": sum(per_query.values())},
        "layers": layers,
    }


def selftest(data_dir: str, work: str) -> int:
    """The measured (noop-write) plans of PLAN_MARKERS' queries keep their
    computed columns; the count() plans are reported for contrast. Reads
    the executed physical plans from the UI REST API."""
    import harness

    from fast_duplicate_finder_spark.queries import QUERIES

    spark = harness.start_spark("perfbench-selftest", work, trace=True)
    try:
        sc = spark.sparkContext
        for q in PLAN_MARKERS:
            _materialize(spark, q, data_dir)
            sc.setJobGroup(f"count:{q}", f"count {q}")
            QUERIES[q](spark, data_dir).count()
        sqls = StageMetrics(spark)._get(
            "/sql?details=false&planDescription=true&length=100000")
        ok = True
        for q, marker in PLAN_MARKERS.items():
            for mode, desc in (("noop", f"catalog {q}"),
                               ("count", f"count {q}")):
                plans = [e.get("planDescription", "") for e in sqls
                         if e.get("description") == desc]
                kept = bool(plans) and any(marker in p for p in plans)
                print(f"selftest {q} [{mode}]: {marker} "
                      f"{'kept' if kept else 'absent'}")
                if mode == "noop" and not kept:
                    ok = False
    finally:
        harness.stop_spark(spark)
    print("selftest:", "PASS" if ok else "FAIL")
    return 0 if ok else 1
