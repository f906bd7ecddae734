"""North-rule packaging clause, tested literally: the pipeline runs via
``spark-submit --py-files fdf.zip`` on a MULTI-EXECUTOR master
(local-cluster = real separate executor JVMs). The subprocess runs with
cwd OUTSIDE the repo and PYTHONPATH stripped, so the package genuinely
resolves from the shipped zip on both the driver and the executors —
the exact deployment path scripts/submit_pipeline.py documents."""

from __future__ import annotations

import json
import os
import shutil
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


def test_spark_submit_py_files_multi_executor(tmp_path):
    zip_base = tmp_path / "fdf"
    zip_path = shutil.make_archive(
        str(zip_base), "zip", root_dir=REPO,
        base_dir="fast_duplicate_finder_spark",
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local-cluster[2,1,1024]",
            "--py-files", zip_path,
            "--conf", "spark.locality.wait=0s",
            "--conf", "spark.sql.shuffle.partitions=8",
            os.path.join(REPO, "scripts", "submit_pipeline.py"),
            "--generate", "300",
            "--checkpoint-dir", str(tmp_path / "ckpt"),
        ],
        cwd=str(tmp_path),  # repo not importable from cwd: zip or bust
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    phases = {m["phase"]: m for m in out["metrics"]}
    assert phases["p1_docs"]["rows"] == 300
    assert out["summary"]["file_sets"] > 0
    assert out["summary"]["near_dup_clusters"] > 0
    # progress fanout reached the console from inside the submitted job
    # (python buffering inside spark-submit can fold stderr into stdout)
    assert "report_summary: done" in proc.stdout + proc.stderr
