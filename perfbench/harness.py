"""Shared machinery of the benchmark: the Spark session, the process-tree
RSS sampler, the in-memory span tracer and the Spark UI REST reads that
attribute stage metrics to job groups.

Everything here observes the program from outside: it calls public
functions and reads public hooks (ProgressReporter events, job groups,
StreamingQuery progress, the UI REST API and the filesystem). It never
wraps an operator function: Spark is lazy, so an operator call only builds
a plan and its cost shows up later, in whichever action runs it.
"""

from __future__ import annotations

import json
import os
import re
import signal
import statistics
import sys
import threading
import time
import urllib.request
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "fast_duplicate_finder_spark"

# Physical-plan nodes that run Python UDFs: their stages are the Arrow/UDF
# boundary layer the per-layer ``udf_*`` metrics report.
_PY_NODE = re.compile(r"ArrowEvalPython|BatchEvalPython|MapInPandas|"
                      r"MapInArrow|FlatMapGroupsInPandas|AggregateInPandas|"
                      r"WindowInPandas|FlatMapCoGroupsInPandas|PythonUDF")
_STAGE_REF = re.compile(r"\(stage (\d+)\.\d+")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}


def require_package() -> None:
    """Exit non-zero before doing anything when the program is absent, so
    a checkout that holds only the benchmark fails fast and loud."""
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG!r} not found under {ROOT}",
              file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "scripts"))


def unit_of(name: str) -> str:
    """Unit of a metric, from its name's suffix."""
    for suffix, unit in (("turns_per_s", "turns/s"), ("pairs_per_s", "pairs/s"),
                         ("_s", "s"), ("_mb", "MB"), ("_rows", "count"),
                         ("_files", "count")):
        if name.endswith(suffix):
            return unit
    return "ratio"


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def local_dirs(work: str) -> dict[str, str]:
    """Keep every file Spark, Java and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the session factory would otherwise move shuffle files to /dev/shm
    os.environ["SPARK_GRAFT_TMPFS_SHUFFLE"] = "0"
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
                                         f"-Dderby.system.home={tmp} "
                                         "-XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def start_spark(app: str, work: str, trace: bool):
    """The package's own session factory on ``local[4]`` with 8 shuffle
    partitions. The UI (and with it the REST API) is on only in the traced
    run."""
    from fast_duplicate_finder_spark.session import get_spark

    conf = local_dirs(work)
    conf["spark.ui.enabled"] = "true" if trace else "false"
    return get_spark(app, cores=4, shuffle_partitions=8, extra_conf=conf)


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory from its footers (no Spark job)."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(dp, fn)).num_rows
               for dp, _, fns in os.walk(path) for fn in fns
               if fn.endswith(".parquet"))


def dir_usage(path: str) -> tuple[int, int]:
    """(file count, bytes) under ``path``; 0, 0 when absent."""
    files = size = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            try:
                size += os.path.getsize(os.path.join(dp, fn))
                files += 1
            except OSError:
                pass
    return files, size


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(children by parent pid, RSS in KiB by pid) of every live process."""
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command: state, ppid, ... rss
        fields = stat[stat.rindex(")") + 2:].split()
        if fields[0] == "Z":
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
        rss[int(name)] = int(fields[21]) * page_kb
    return children, rss


def _descendants(root: int, children: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(children.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def kill_descendants() -> None:
    """SIGKILL every process this one started, and reap them."""
    for p in _descendants(os.getpid(), _proc_table()[0]):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 5
    while time.time() < deadline:
        try:
            if os.waitpid(-1, os.WNOHANG)[0] == 0:
                time.sleep(0.05)
        except ChildProcessError:
            return


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait until every process
    this run started (the JVM and the Python workers it forked) has ended."""
    from pyspark import SparkContext

    started = _descendants(os.getpid(), _proc_table()[0])
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while started and time.time() < deadline:
        alive = _proc_table()[1]
        started = [p for p in started if p in alive]
        time.sleep(0.1)
    for p in started:
        os.kill(p, signal.SIGKILL)


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers it forks), summed per sample from
    /proc every ``INTERVAL_S``."""

    INTERVAL_S = 0.25

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree_rss_kb(root: int) -> int:
        children, rss = _proc_table()
        return sum(rss.get(p, 0) for p in _descendants(root, children)
                   + [root])

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(me))
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


class Tracer:
    """Spans kept in memory and written out once, at the end of the run.

    A span is ``{id, name, start, end, parent, run_id, attrs}``; start/end
    are seconds on one monotonic clock (``time.perf_counter``). Stage and
    epoch spans, timed by Spark's wall clock, are placed on it through the
    offset taken at construction. ``overhead_s`` accumulates the time the
    tracer's collection (REST reads, span building) takes after the timed
    window.
    """

    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._wall_offset = time.time() - time.perf_counter()

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        self.spans.append({
            "id": len(self.spans) + 1, "name": name, "start": start,
            "end": end, "parent": parent, "run_id": self.run_id,
            "attrs": attrs,
        })
        return len(self.spans)

    def from_wall(self, epoch_s: float) -> float:
        return epoch_s - self._wall_offset

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


class PhaseSpans:
    """ProgressReporter subscriber turning phase start/done events into
    (phase, start, end) intervals on the perf_counter clock."""

    def __init__(self):
        self.open: dict[str, float] = {}
        self.done: list[tuple[str, float, float]] = []

    def __call__(self, event: dict) -> None:
        now = time.perf_counter()
        if event["status"] == "start":
            self.open[event["phase"]] = now
        elif event["status"] in ("done", "resumed"):
            start = self.open.pop(event["phase"], now)
            self.done.append((event["phase"], start, now))

    def seconds(self, phase: str) -> float:
        return sum(e - s for p, s, e in self.done if p == phase)


_DURATION_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def _parse_duration(text: str) -> float:
    """Seconds from a UI metric string such as '...\n11.8 s (2.8 s, ...)'
    or '563 ms'."""
    m = re.search(r"([\d.,]+) (ms|min|s|m|h)\b", text.split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _DURATION_UNITS[m.group(2)]


def _parse_size(text: str) -> float:
    """Bytes from a UI metric string such as 'total (...)\\n795.2 KiB (...)'."""
    m = re.search(r"([\d.,]+) (B|KiB|MiB|GiB|TiB)\b", text.split("\n")[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]


def utc_seconds(stamp: str | None) -> float | None:
    """Epoch seconds from a REST timestamp like 2026-10-17T00:41:42.670GMT."""
    if not stamp:
        return None
    import calendar

    base, ms = stamp.replace("GMT", "").split(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + \
        int(ms) / 1000.0


class StageMetrics:
    """Stage metrics from the Spark UI REST API, attributed by job group.

    Stage reads and task quantiles come from ``probe_util.StageProbe``;
    this class adds the job -> group map and the SQL-execution plan nodes
    that identify the Python-UDF stages and the bytes sent to Python.
    """

    def __init__(self, spark):
        from probe_util import StageProbe  # scripts/, put on sys.path

        self.probe = StageProbe(spark)
        self._base = (f"{self.probe.ui}/api/v1/applications/"
                      f"{self.probe.app_id}")

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def collect(self, groups_of_interest: set) -> dict:
        """One read of every completed stage, job and SQL execution.

        Returns ``{group: {"stages": [...], "udf_sent_bytes": b,
        "udf_python_s": s}}`` where each stage dict carries the REST
        fields plus ``is_udf``, and ``udf_python_s`` is the plan nodes'
        "time to run Python workers".
        """
        stages = self.probe.snapshot()
        jobs = self._get("/jobs")
        sqls = self._get("/sql?details=true&planDescription=false"
                         "&length=100000")
        group_of_job = {j["jobId"]: j.get("jobGroup") for j in jobs}
        group_of_stage: dict[int, str] = {}
        for j in jobs:
            for sid in j["stageIds"]:
                group_of_stage.setdefault(sid, j.get("jobGroup"))
        stages_of_job = {j["jobId"]: j["stageIds"] for j in jobs}
        udf_stages: set[int] = set()
        sent: dict[str, float] = {}
        py_time: dict[str, float] = {}
        for ex in sqls:
            job_ids = (ex.get("successJobIds", []) + ex.get("failedJobIds", [])
                       + ex.get("runningJobIds", []))
            groups = {group_of_job.get(j) for j in job_ids} - {None}
            share = 1.0 / max(len(groups), 1)
            for node in ex.get("nodes", []):
                if not _PY_NODE.search(node.get("nodeName", "")):
                    continue
                refs = {int(s) for m in node.get("metrics", [])
                        for s in _STAGE_REF.findall(m.get("value", ""))}
                # single-task metrics carry no "(stage N.M: task K)" ref:
                # the node then runs in one of the execution's stages, and
                # all of them count (an upper bound)
                udf_stages.update(refs or {s for j in job_ids
                                           for s in stages_of_job.get(j, [])})
                for m in node.get("metrics", []):
                    if m.get("name") == "data sent to Python workers":
                        for g in groups:
                            sent[g] = sent.get(g, 0.0) + share * _parse_size(
                                m["value"])
                    elif m.get("name") == "time to run Python workers":
                        for g in groups:
                            py_time[g] = py_time.get(g, 0.0) + share * \
                                _parse_duration(m["value"])
        out: dict[str, dict] = {}
        for sid, st in stages.items():
            g = group_of_stage.get(sid)
            if g not in groups_of_interest:
                continue
            st = dict(st, is_udf=sid in udf_stages)
            out.setdefault(g, {"stages": [], "udf_sent_bytes": 0.0,
                               "udf_python_s": 0.0})
            out[g]["stages"].append(st)
        for g in out:
            out[g]["udf_sent_bytes"] = sent.get(g, 0.0)
            out[g]["udf_python_s"] = py_time.get(g, 0.0)
        return out

    def task_skew(self, st: dict) -> float | None:
        """max / median task duration of one stage; None when the median
        rounds to zero (sub-50 ms tasks carry no skew signal)."""
        q = self.probe._task_quantiles(st["stageId"], st["attemptId"])
        if len(q) != 3 or q[1] <= 0:
            return None
        return q[2] / q[1]


def layer_totals(metrics: StageMetrics, groups: dict) -> dict:
    """Sum the stage metrics of the given job groups into one layer's
    numbers (everything but wall time, which comes from spans)."""
    stages = [st for g in groups.values() for st in g["stages"]]
    skews = [s for s in (metrics.task_skew(st) for st in stages
                         if st["executorRunTime"] >= 200) if s is not None]
    return {
        "run_s": sum(st["executorRunTime"] for st in stages) / 1000.0,
        "cpu_s": sum(st["executorCpuTime"] for st in stages) / 1e9,
        "udf_stage_s": sum(st["executorRunTime"] for st in stages
                           if st["is_udf"]) / 1000.0,
        "udf_s": sum(g["udf_python_s"] for g in groups.values()),
        "udf_sent_mb": sum(g["udf_sent_bytes"] for g in groups.values())
        / 1e6,
        "shuffle_mb": sum(st["shuffleReadBytes"] + st["shuffleWriteBytes"]
                          for st in stages) / 1e6,
        "spill_mb": sum(st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                        for st in stages) / 1e6,
        "task_max_over_median": max(skews, default=0.0),
    }


def add_stage_spans(tracer: Tracer, parent_of_group: dict[str, int],
                    per_group: dict) -> None:
    """One span per completed stage under the span of its job group."""
    for g, d in per_group.items():
        parent = parent_of_group.get(g)
        if parent is None:
            continue
        for st in d["stages"]:
            s = utc_seconds(st.get("submissionTime"))
            e = utc_seconds(st.get("completionTime"))
            if s is None or e is None:
                continue
            tracer.add(f"stage {st['stageId']}", tracer.from_wall(s),
                       tracer.from_wall(e), parent,
                       run_s=st["executorRunTime"] / 1000.0,
                       udf=st["is_udf"])
