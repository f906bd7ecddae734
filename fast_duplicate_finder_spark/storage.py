"""Phase checkpoint store — the inter-phase handoff.

The reference hands phases off through in-memory Go multimaps
(phase_1.go:28,98) and dies if they exceed RAM; it cannot resume
(cancellation at run_finder.go:45-79 just aborts). Our handoff is a
checkpointed table per phase with a manifest carrying:

* the config fingerprint (a resumed run never mixes parameters),
* lineage (which phases produced the inputs),
* counters (row count + per-partition row counts — the north_rule's
  per-partition lineage/metrics),
* the input snapshot id when known (Iceberg snapshot-isolation analogue of
  the reference's size-stability recheck, phase_3.go:36-46).

Format: a Hadoop-style Parquet layout with a JSON manifest. There is no
Iceberg writer: an Iceberg-backed store (a ``bucket(N, col)`` partition
transform in place of ``bucketBy``) is deferred until a runtime jar and a
catalog are available; ``iceberg_available`` detects the runtime and
tests/test_iceberg_integration.py exercises it where one is present.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


def parquet_snapshot_id(path: str) -> str:
    """Snapshot id of a parquet input directory (or single file): a stable
    hash of every data file's (relative path, size, mtime). The Iceberg
    analogue is the table's snapshot id; this is the reference's
    size-stability recheck (phase_3.go:36-46) lifted to whole-input
    granularity — a resumed run whose input changed under it must NOT
    silently mix old checkpoints with new data."""
    import hashlib

    entries = []
    if os.path.isfile(path):
        st = os.stat(path)
        entries.append(f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}")
    else:
        for root, dirs, files in os.walk(path):
            # prune hidden dirs (_temporary, .spark-staging-*): uncommitted
            # parts under them are invisible to Spark's reader and must not
            # perturb the snapshot id
            dirs[:] = [
                d for d in dirs if not (d.startswith("_") or d.startswith("."))
            ]
            for name in files:
                if name.startswith("_") or name.startswith("."):
                    continue
                fp = os.path.join(root, name)
                st = os.stat(fp)
                rel = os.path.relpath(fp, path)
                entries.append(f"{rel}:{st.st_size}:{st.st_mtime_ns}")
    blob = "\n".join(sorted(entries)).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


def _require_local_fs(path: str) -> None:
    """Fail fast on a URI-shaped path (hdfs://, s3a://, ...). Spark writes
    would work on any Hadoop filesystem, but the checkpoint manifests and
    the streaming state lifecycle are local file operations
    (``open``, ``os.walk``, ``os.replace``, ``shutil``) that would silently
    write beside, no-op on or mis-detect a remote URI. Remote storage
    (e.g. Iceberg tables in place of this local parquet layout) is not
    implemented."""
    if "://" in path:
        raise ValueError(
            f"{path!r} must be a local filesystem path: manifests and state "
            "maintenance use local file operations, and remote "
            "storage is not implemented"
        )


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg runtime is on the JVM classpath (the
    iceberg-spark-runtime jar ships ``org.apache.iceberg.Table``)."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.Table"
        )
        return True
    except Exception:
        return False


@dataclass
class CheckpointStore:
    spark: SparkSession
    base_dir: str
    fingerprint: str
    snapshot_id: str | None = None  # input snapshot (parquet_snapshot_id /
                                    # Iceberg snapshot); resume refuses a
                                    # checkpoint taken of a different input
    metrics: list[dict] = field(default_factory=list)
    # phases of one run write concurrently: each appends its own metric
    _metrics_lock: threading.Lock = field(
        default_factory=threading.Lock, init=False, repr=False
    )

    def __post_init__(self) -> None:
        _require_local_fs(self.base_dir)

    def _dir(self, phase: str) -> str:
        return os.path.join(self.base_dir, phase)

    def _table_name(self, phase: str) -> str:
        """Deterministic catalog name for a bucketed checkpoint: derivable
        from (base_dir, fingerprint, phase) alone so a FRESH session can
        re-register the external table from the manifest."""
        import hashlib
        import re

        key = hashlib.sha256(
            f"{os.path.abspath(self.base_dir)}|{self.fingerprint}".encode()
        ).hexdigest()[:12]
        ph = re.sub(r"[^0-9a-zA-Z]", "_", phase).lower()
        return f"fdf_ckpt_{key}_{ph}"

    def _manifest_path(self, phase: str) -> str:
        return os.path.join(self._dir(phase), "_MANIFEST.json")

    def exists(self, phase: str, lineage: list[str] | None = None) -> bool:
        """A complete checkpoint of this fingerprint (and input snapshot,
        when pinned) whose manifest records the same input phases
        (``lineage``, default none, as ``write`` records it): a checkpoint
        from a different phase graph holds a different table under the
        same name."""
        mp = self._manifest_path(phase)
        if not os.path.exists(mp):
            return False
        try:
            with open(mp) as f:
                m = json.load(f)
        except (OSError, json.JSONDecodeError):
            return False
        if m.get("fingerprint") != self.fingerprint or not m.get("complete"):
            return False
        if m.get("lineage") != (lineage or []):
            return False
        if self.snapshot_id is not None:
            # a manifest with NO snapshot is unknown provenance: when the
            # caller pins an input snapshot, refuse to resume from it (the
            # documented contract is "resume refuses checkpoints of a
            # different input" — missing != same)
            return m.get("snapshot_id") == self.snapshot_id
        return True

    def _record(self, metric: dict) -> dict:
        with self._metrics_lock:
            self.metrics.append(metric)
        return metric

    def write(
        self,
        df: DataFrame,
        phase: str,
        lineage: list[str] | None = None,
        bucket_by: list[str] | None = None,
    ) -> DataFrame:
        """``_write`` without its metric."""
        return self._write(df, phase, lineage, bucket_by)[0]

    def _write(
        self,
        df: DataFrame,
        phase: str,
        lineage: list[str] | None = None,
        bucket_by: list[str] | None = None,
    ) -> tuple[DataFrame, dict]:
        """Write + manifest; returns the re-read DataFrame (so downstream
        phases read the checkpoint, truncating lineage like the reference's
        phase boundaries).

        A plain checkpoint is written ONCE, as produced, in one Spark job.
        Its file count does not bound downstream parallelism: every reader
        starts at an exchange or a cheap narrow step, and a large table
        re-splits at ``maxPartitionBytes`` on read. The re-read takes the
        written frame's schema, so no schema-inference job runs.

        ``bucket_by`` writes a BUCKETED external table instead of plain
        parquet: the re-read scan carries ``hashpartitioning(bucket_by)``
        output partitioning, so every downstream join/agg keyed on the
        bucket columns skips its Exchange of THIS table — across resumes
        and fresh sessions (plain parquet forgets its distribution the
        moment it is written; the widest checkpoint then re-shuffles once
        per consumer). ``bucketBy`` does not itself shuffle: when the
        incoming plan is already hash-partitioned on the bucket columns
        with shuffle.partitions partitions (the bucket count), each task
        writes exactly one bucket file. (Iceberg swap point: a
        ``bucket(N, col)`` partition transform + storage-partitioned
        joins express the same contract.)"""
        path = self._dir(phase)
        data_path = os.path.join(path, "data")
        # invalidate BEFORE mutating: a stale complete manifest + a crash
        # anywhere in the drop/rmtree/overwrite window below would let a
        # later resume() read a missing or partially-written table as
        # valid (the bucketed read returns 0 rows silently). With the
        # manifest gone first, a mid-write crash makes exists() False and
        # the phase recomputes.
        try:
            os.remove(self._manifest_path(phase))
        except FileNotFoundError:
            pass
        n_buckets = 0
        if bucket_by:
            n_buckets = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            name = self._table_name(phase)
            # external table may exist from an earlier run against a
            # DIFFERENT path (tests, moved checkpoint dirs): drop the
            # catalog entry (files untouched) before re-creating
            self.spark.sql(f"DROP TABLE IF EXISTS {name}")
            if os.path.isdir(data_path):
                shutil.rmtree(data_path)
            (
                df.write.mode("overwrite")
                .option("path", data_path)
                .bucketBy(n_buckets, *bucket_by)
                .saveAsTable(name)
            )
            out = self.spark.table(name)
        else:
            df.write.mode("overwrite").parquet(data_path)
            out = self.spark.read.schema(df.schema).parquet(data_path)
        # Per-partition counters from the parquet FOOTERS (driver-side
        # metadata reads), not a Spark job: the old groupBy(partition_id)
        # re-scanned every checkpoint in full — one extra all-data pass per
        # phase, pure fixed cost at any cluster size. A written file is a
        # write-partition; footer num_rows is exact. (Iceberg swap point:
        # the table's manifest files carry the same per-file counts.)
        per_part = self._footer_counts(data_path)
        manifest = {
            "phase": phase,
            "fingerprint": self.fingerprint,
            "snapshot_id": self.snapshot_id,
            "rows": int(sum(per_part.values())),
            "partitions": per_part,
            "bucket_by": bucket_by or [],
            "n_buckets": n_buckets,
            "schema_json": df.schema.json() if bucket_by else None,
            "lineage": lineage or [],
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "complete": True,
        }
        os.makedirs(path, exist_ok=True)
        tmp = self._manifest_path(phase) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, self._manifest_path(phase))  # atomic completion mark
        return out, self._record(
            {"phase": phase, "rows": manifest["rows"],
             "n_partitions": len(per_part)}
        )

    def _footer_counts(self, data_path: str) -> dict[str, int]:
        """{file_name: num_rows} from parquet footer metadata."""
        import pyarrow.parquet as pq

        return {
            e.name: pq.ParquetFile(e.path).metadata.num_rows
            for e in os.scandir(data_path)
            if e.name.endswith(".parquet") and e.is_file()
        }

    def read(self, phase: str) -> DataFrame:
        try:
            m = self.manifest(phase)
        except (OSError, json.JSONDecodeError):
            m = {}
        if m.get("bucket_by"):
            return self._bucketed_read(phase, m)
        return self.spark.read.parquet(os.path.join(self._dir(phase), "data"))

    def _bucketed_read(self, phase: str, m: dict) -> DataFrame:
        """Read a bucketed checkpoint THROUGH the catalog (a plain
        ``read.parquet`` of the same files loses the bucket spec and with
        it the exchange-free joins). A fresh session re-registers the
        external table from the manifest's schema + bucket spec."""
        from pyspark.sql.types import StructType

        name = self._table_name(phase)
        if not self.spark.catalog.tableExists(name):
            schema = StructType.fromJson(json.loads(m["schema_json"]))
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in schema
            )
            bucket_cols = ", ".join(f"`{c}`" for c in m["bucket_by"])
            data_path = os.path.join(self._dir(phase), "data")
            self.spark.sql(
                f"CREATE TABLE {name} ({cols}) USING PARQUET "
                f"CLUSTERED BY ({bucket_cols}) "
                f"INTO {m['n_buckets']} BUCKETS "
                f"LOCATION '{os.path.abspath(data_path)}'"
            )
        return self.spark.table(name)

    def manifest(self, phase: str) -> dict:
        with open(self._manifest_path(phase)) as f:
            return json.load(f)

    def get_or_compute(
        self,
        phase: str,
        compute,
        lineage: list[str] | None = None,
        resume: bool = True,
        **write_kwargs,
    ) -> tuple[DataFrame, dict]:
        """Skip phases whose checkpoint exists under the same config
        fingerprint and lineage — the resume contract (BASELINE.md
        resumability row). Returns the checkpoint and this phase's own
        metric (the same dict ``metrics`` holds)."""
        if resume and self.exists(phase, lineage):
            return self.read(phase), self._record(
                {"phase": phase, "resumed": True}
            )
        t0 = time.perf_counter()
        out, metric = self._write(
            compute(), phase, lineage=lineage, **write_kwargs
        )
        metric["seconds"] = round(time.perf_counter() - t0, 2)
        return out, metric
