"""Cooperative cancellation + live progress — reference parity C5/C6.

The reference threads a cancellable context through every phase
(phase_5.go:17-37) and checks it between phases (run_finder.go:45, 52, 59,
66, 73, 79), and fans progress callbacks out per phase with percentages
(status/status.go:55-81, phase_2.go:54). The Spark re-expression:

* ``CancelToken`` — ``cancel()`` flips a flag AND cancels the Spark job
  group of EVERY running phase (independent phases run concurrently, each
  under its own group; ``sc.cancelJobGroup`` with interrupt-on-cancel, so
  in-flight tasks die, not just future ones). ``run_pipeline`` checks the
  token at every phase boundary and raises ``PipelineCancelled``; a later
  run resumes from the completed checkpoints (the reference cannot — its
  cancel just aborts, SURVEY.md §2 C5).
* ``ProgressReporter`` — callback fanout with (phase, declared index,
  percent, rows, seconds, resumed). ``percent`` is the completed share of
  the run: done phases count whole, in-flight phases by their within-phase
  fraction, so it never steps back while phases finish out of declared
  order. Subscribers are driver-side listeners (a CLI printer, a metrics
  pusher); events are also retained on the reporter for post-hoc
  inspection, superseding round 1's write-only metrics rows.
* ``StageProgressPoller`` — WITHIN-phase fractional progress (the reference
  interpolates inside long phases: phase_2.go:54, phase_3.go:61 emit
  ``processed/total`` percentages mid-phase). Spark's analogue of
  "groups processed" is task completion: a daemon thread polls
  ``sc.statusTracker()`` for the phase's job group (``CancelToken.
  enter_phase`` already tags every phase's jobs) and emits ``status=
  "progress"`` events with ``within_phase_percent`` whenever the completed
  /total task fraction moves ≥1 point. Pure driver-side metadata reads —
  zero executor work, zero extra Spark jobs.
"""

from __future__ import annotations

import threading


class PipelineCancelled(RuntimeError):
    """Raised at the first phase boundary after CancelToken.cancel()."""


class CancelToken:
    def __init__(self, spark):
        self._spark = spark
        self._cancelled = threading.Event()
        self._lock = threading.Lock()
        self._active_groups: set[str] = set()

    def enter_phase(self, phase: str) -> None:
        """Tag all jobs of this phase with a cancellable group, in the
        phase's own thread (Spark job groups are per-thread)."""
        with self._lock:
            self._active_groups.add(phase)
        self._spark.sparkContext.setJobGroup(
            phase, f"fdf phase {phase}", interruptOnCancel=True
        )

    def exit_phase(self, phase: str) -> None:
        with self._lock:
            self._active_groups.discard(phase)

    def cancel(self) -> None:
        """Callable from any thread: stop every running phase's jobs now;
        run_pipeline raises PipelineCancelled once they have stopped."""
        self._cancelled.set()
        with self._lock:
            groups = sorted(self._active_groups)
        for group in groups:
            try:
                self._spark.sparkContext.cancelJobGroup(group)
            except Exception:  # noqa: BLE001 — racing a stopping context
                pass

    @property
    def cancelled(self) -> bool:
        return self._cancelled.is_set()

    def check(self) -> None:
        if self._cancelled.is_set():
            raise PipelineCancelled("pipeline cancelled")


class ProgressReporter:
    """Callback fanout + bounded event history. ``max_events`` bounds the
    retained history the same way the reference's ring logger bounds its
    entries (logger/logger.go:102-104) — a week-long streaming run must
    not grow driver memory per phase. ``logger``: an optional
    plans.logging.RingLogger that phase lifecycle lines are mirrored into
    (the C7 log surface)."""

    def __init__(
        self, max_events: int = 1000, logger=None, poll_interval: float = 0.5
    ):
        from collections import deque

        self.callbacks: list = []
        self._max_events = max_events
        self._events: deque[dict] = deque()
        self.logger = logger
        # within-phase StageProgressPoller cadence (run_pipeline reads it)
        self.poll_interval = poll_interval
        # completed fraction of each phase started in the current run
        self._fractions: dict[str, float] = {}
        # phase_progress events arrive from poller daemon threads while
        # phase_start/phase_done arrive from the phases' own threads —
        # serialize the event log, the percent, the logger mirror, and
        # subscriber callbacks so a single-threaded subscriber never sees
        # interleaved events.
        # RLock: a subscriber callback may legally re-enter the reporter
        # (emit a derived event, read .events) without self-deadlocking.
        # Callbacks run UNDER the lock by design — fanout order is the
        # contract — so a blocking callback stalls phase boundaries;
        # subscribers doing slow I/O must hand off to their own queue.
        self._emit_lock = threading.RLock()

    @property
    def events(self) -> list[dict]:
        with self._emit_lock:
            return list(self._events)

    def subscribe(self, cb) -> None:
        """cb(event: dict) — called on the driver at phase start/done.
        Takes the emit lock: _emit iterates ``callbacks`` under it from two
        threads (driver + poller daemon), so a mid-run subscriber must not
        mutate the list out from under an in-flight fanout."""
        with self._emit_lock:
            self.callbacks.append(cb)

    def _evict_one(self) -> None:
        """History is full: drop the oldest ``status='progress'`` event
        first — within-phase interpolation is ephemeral by nature, while
        start/done/resumed records are the post-hoc audit trail a long
        phase's ~100-event progress sweep must not flush out. Oldest
        overall goes only when no progress event remains."""
        for i, e in enumerate(self._events):
            if e["status"] == "progress":
                del self._events[i]
                return
        self._events.popleft()

    def _emit(self, event: dict, fraction: float) -> None:
        """Record ``fraction`` as the phase's completed share, stamp the
        run's ``percent`` and fan the event out, all under one lock, so
        percents reach subscribers in non-decreasing order."""
        with self._emit_lock:
            phase, status = event["phase"], event["status"]
            if status == "start" and phase in self._fractions:
                self._fractions.clear()  # the phase again: a new run
            if status != "start" and phase not in self._fractions:
                # a poller driven outside any run (no start event) has no
                # run to be a share of: it sweeps its declared slice
                done = event["index"] - 1 + fraction
            else:
                self._fractions[phase] = max(
                    self._fractions.get(phase, 0.0), fraction
                )
                done = sum(self._fractions.values())
            event["percent"] = round(100.0 * done / event["total"], 1)
            if len(self._events) >= self._max_events:
                self._evict_one()
            self._events.append(event)
            # lifecycle lines only: a poller emits up to ~100 progress
            # events per long phase, which would bury the ring logger
            if self.logger is not None and event["status"] != "progress":
                self.logger.info(
                    f"phase {event['phase']} {event['status']} "
                    f"({event['percent']}%)",
                    context="pipeline",
                    data={k: v for k, v in event.items() if k != "phase"},
                )
            for cb in self.callbacks:
                cb(event)

    def phase_start(self, phase: str, index: int, total: int) -> None:
        self._emit(
            {"phase": phase, "status": "start", "index": index,
             "total": total},
            0.0,
        )

    def phase_progress(
        self, phase: str, index: int, total: int, fraction: float
    ) -> None:
        """Within-phase interpolation: overall percent sweeps the phase's
        own 1/total share as ``fraction`` goes 0→1 (reference
        status.go:55-81 + phase_2.go:54 semantics)."""
        fraction = min(max(fraction, 0.0), 1.0)
        self._emit(
            {
                "phase": phase,
                "status": "progress",
                "index": index,
                "total": total,
                "within_phase_percent": round(100.0 * fraction, 1),
            },
            fraction,
        )

    def phase_done(self, phase: str, index: int, total: int, metric: dict
                   ) -> None:
        from fast_duplicate_finder_spark.functions.format import format_elapsed

        secs = metric.get("seconds")
        self._emit(
            {
                "phase": phase,
                "status": "resumed" if metric.get("resumed") else "done",
                "index": index,
                "total": total,
                "rows": metric.get("rows"),
                "seconds": secs,
                "elapsed": format_elapsed(secs) if secs is not None else None,
            },
            1.0,
        )


class StageProgressPoller:
    """Daemon thread translating the phase's task-completion fraction into
    ``ProgressReporter.phase_progress`` events (module docstring). Use as a
    context manager around the phase's compute; ``interval`` trades event
    latency against (driver-local) polling cost — the status tracker is an
    in-memory listener snapshot, so even 10 Hz is negligible.

    The fraction is completed/total tasks over all jobs SUBMITTED SO FAR in
    the phase's job group — the same moving-denominator interpolation the
    reference uses when a phase's group count grows as it scans
    (phase_2.go:54). A new job joining the denominator makes the RAW
    fraction step back; emission is clamped to the high-water mark so the
    event stream (and overall ``percent``) stays monotone like any
    progress bar — a post-dip plateau simply pauses events until the
    fraction re-crosses the mark. phase_done's 100% supersedes it."""

    def __init__(
        self,
        spark,
        reporter: ProgressReporter,
        phase: str,
        index: int,
        total: int,
        interval: float = 0.5,
    ):
        self._tracker = spark.sparkContext.statusTracker()
        self._reporter = reporter
        self._phase = phase
        self._index = index
        self._total = total
        self._interval = interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        # Job groups are named by phase and the status tracker is
        # SESSION-global (retains up to spark.ui.retainedJobs completed
        # jobs): a second run_pipeline in the same session would otherwise
        # count the first run's completed tasks in this phase's denominator
        # (within_phase_percent starting near 100). Snapshot the group's
        # pre-existing job ids now — this poller is constructed after
        # enter_phase but before the phase body submits anything — and
        # exclude them from the fraction.
        try:
            self._stale_jobs = frozenset(
                self._tracker.getJobIdsForGroup(phase)
            )
        except Exception:  # noqa: BLE001 — racing a stopping SparkContext
            self._stale_jobs = frozenset()

    def _fraction(self) -> float | None:
        total_tasks = done_tasks = 0
        try:
            job_ids = [
                j
                for j in self._tracker.getJobIdsForGroup(self._phase)
                if j not in self._stale_jobs
            ]
            for jid in job_ids:
                info = self._tracker.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    st = self._tracker.getStageInfo(sid)
                    if st is None:
                        continue
                    total_tasks += st.numTasks
                    done_tasks += st.numCompletedTasks
        except Exception:  # noqa: BLE001 — racing a stopping SparkContext
            return None
        if total_tasks <= 0:
            return None
        return done_tasks / total_tasks

    def _run(self) -> None:
        last = 0.0  # high-water mark: emitted fractions never step back
        while not self._stop.wait(self._interval):
            frac = self._fraction()
            # endpoints are phase_start/phase_done's job, not the poller's
            if frac is None or frac >= 1.0 or frac <= 0.0:
                continue
            if frac - last >= 0.01:
                last = frac
                self._reporter.phase_progress(
                    self._phase, self._index, self._total, frac
                )

    def __enter__(self) -> "StageProgressPoller":
        self._thread = threading.Thread(
            target=self._run, name=f"fdf-progress-{self._phase}", daemon=True
        )
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
