"""Pure-Python tests for the ladder analysis tools (no Spark).

The scaling gate's evidence chain runs through scripts/ladder_report.py
(pooling + best-of-N efficiency) — pin its timed-wall recovery so a
format drift in leg artifacts can't silently mis-pool warm-ups as timed
runs (which would overstate efficiency in either direction). Cross-run
benchmark verdicts come from perfbench/compare.py, pinned the same way.
"""

from __future__ import annotations

import importlib.util
import json
import pathlib
import subprocess
import sys

_SCRIPTS = pathlib.Path(__file__).resolve().parent.parent / "scripts"


def _load(name: str):
    spec = importlib.util.spec_from_file_location(name, _SCRIPTS / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_timed_walls_drops_warmups():
    lr = _load("ladder_report")
    # modern leg: 1 warm-up + 2 timed, wall_sec == min(timed)
    run = {"all_walls": [700.0, 455.8, 301.2], "wall_sec": 301.2}
    assert lr.timed_walls(run) == [455.8, 301.2]
    # round-2-era leg: 1 warm-up + 1 timed
    run = {"all_walls": [962.2, 125.2], "wall_sec": 125.2}
    assert lr.timed_walls(run) == [125.2]
    # degenerate: a single recorded wall is its own timed run
    run = {"all_walls": [88.8], "wall_sec": 88.8}
    assert lr.timed_walls(run) == [88.8]


def test_report_pools_and_computes_best_of_n_efficiency(tmp_path):
    art = {
        "runs": [
            {
                "master": "local-cluster[2,4,10240]",
                "n_executors": 2,
                "turns": 1000,
                "wall_sec": 200.0,
                "all_walls": [300.0, 250.0, 200.0],
                "runs_detail": [
                    {"wall_sec": w, "phase_seconds": {"p": w / 2}}
                    for w in (300.0, 250.0, 200.0)
                ],
            },
            {
                "master": "local-cluster[8,4,10240]",
                "n_executors": 8,
                "turns": 1000,
                "wall_sec": 60.0,
                "all_walls": [100.0, 80.0, 60.0],
                "runs_detail": [
                    {"wall_sec": w, "phase_seconds": {"p": w / 2}}
                    for w in (100.0, 80.0, 60.0)
                ],
            },
        ]
    }
    p = tmp_path / "ladder.json"
    p.write_text(json.dumps(art))
    out = subprocess.run(
        [sys.executable, str(_SCRIPTS / "ladder_report.py"), str(p)],
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    # best-of-N: 200 s vs 60 s -> eff = 200 / (4 * 60) = 0.833
    assert "efficiency 2 -> 8 executors: 0.833" in out
    # pooled timed walls (sorted ascending) exclude the 300/100 warm-ups
    assert "[200.0, 250.0]" in out and "[60.0, 80.0]" in out
    # per-phase table present with best timed-phase values (100.0 vs 30.0)
    assert "100.00" in out and "30.00" in out and "3.33x" in out


def test_ladder_profile_best_run_excludes_warmup_and_picks_min():
    lp = _load("ladder_profile")
    runs = [
        {
            "n_executors": 2,
            "all_walls": [900.0, 300.0, 200.0],
            "wall_sec": 200.0,
            "runs_detail": [
                {"wall_sec": 900.0, "phase_seconds": {"p": 9.0}},  # warm-up
                {"wall_sec": 300.0, "phase_seconds": {"p": 3.0}},
                {"wall_sec": 200.0, "phase_seconds": {"p": 2.0}},
            ],
        },
        {
            "n_executors": 2,
            "all_walls": [150.0, 400.0, 500.0],  # warm-up happened fastest
            "wall_sec": 400.0,
            "runs_detail": [
                {"wall_sec": 150.0, "phase_seconds": {"p": 1.5}},  # warm-up
                {"wall_sec": 400.0, "phase_seconds": {"p": 4.0}},
                {"wall_sec": 500.0, "phase_seconds": {"p": 5.0}},
            ],
        },
    ]
    best = lp.best_run(runs, 2)
    # NOT the chronologically-last (500.0), NOT the warm-up (150.0):
    # the fastest TIMED run across legs
    assert best["wall_sec"] == 200.0


def test_perfbench_compare_verdicts():
    """perfbench/compare.py's verdict per (workload, metric): worse than
    the bound is a regression, a spread above the bound is unresolved,
    otherwise within-bound or better; result sets that share no workload
    or no metric are refused, never reported as "no change"."""
    import pytest

    spec = importlib.util.spec_from_file_location(
        "perfbench_compare",
        pathlib.Path(__file__).resolve().parent.parent / "perfbench"
        / "compare.py",
    )
    cmp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cmp)
    bench_spec = {"end_to_end": [
        {"name": "turns_per_s", "better": "higher", "bound": 0.25},
        {"name": "setup_s", "better": "lower", "bound": 0.25},
    ]}

    def runs(workload, metric, values):
        return [{"workload": workload, "trace": 0,
                 "result": {"metrics": {metric: {"value": v}}}}
                for v in values]

    def verdict(metric, parent, change):
        out = cmp.compare(runs("w", metric, parent), runs("w", metric, change),
                          bench_spec)
        return out["w"][metric]["verdict"]

    steady = [100.0, 101.0, 99.0, 100.0, 100.5]
    assert verdict("turns_per_s", steady, [98.0, 99.0, 97.0, 98.0, 98.5]) \
        == "within-bound"
    assert verdict("turns_per_s", steady, [110.0, 111.0, 109.0, 110.0, 110.5]) \
        == "better"
    assert verdict("setup_s", steady, [90.0, 91.0, 89.0, 90.0, 90.5]) \
        == "better"
    # 40 % fewer turns/s, and 40 % more setup seconds, are past the bound
    assert verdict("turns_per_s", steady, [60.0, 61.0, 59.0, 60.0, 60.5]) \
        == "regression"
    assert verdict("setup_s", steady, [140.0, 141.0, 139.0, 140.0, 140.5]) \
        == "regression"
    # medians agree, but the parent's quartile spread (0.7) is over 0.25
    assert verdict("turns_per_s", [50.0, 80.0, 100.0, 120.0, 150.0], steady) \
        == "unresolved"

    with pytest.raises(ValueError, match="no workload in common"):
        cmp.compare(runs("a", "turns_per_s", steady),
                    runs("b", "turns_per_s", steady), bench_spec)
    with pytest.raises(ValueError, match="no metric name in common"):
        cmp.compare(runs("w", "turns_per_s", steady),
                    runs("w", "setup_s", steady), bench_spec)
