"""Spans around the calls into each layer, and the fold of Spark's own
records into per-layer counters.

Untraced, a span only times its call. Traced, it also

- tags every Spark job the call submits with a job group named
  ``<span>#<call>``;
- counts the data files the call leaves in the tables it writes;

and the run keeps a ``StreamingQueryListener`` whose progress events
(the ``durationMs`` breakdown of each trigger) are attributed to the
span whose interval holds the trigger. Spans stay in memory; after the
session stops, :func:`fold` reads the event log (``SparkListenerJobStart``
/ ``JobEnd`` / ``TaskEnd``) and turns everything into
``<span>.<counter>`` metrics. A stream's jobs carry its run id as job
group; the run id is mapped to the span through its progress events.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

#: StreamingQueryProgress.durationMs key → counter
_PROGRESS_KEYS = {
    "triggerExecution": "trigger_ms",
    "addBatch": "add_batch_ms",
    "latestOffset": "latest_offset_ms",
    "queryPlanning": "query_planning_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
}

#: job totals summed per call from the event log
_JOB_KEYS = ("tasks", "task_cpu_ms", "gc_ms", "input_bytes", "output_bytes",
             "shuffle_bytes", "spill_bytes")

#: Spark's whole-millisecond timers: reported as the mean per call, which
#: keeps their fraction; every other counter is the median per call
MEAN_COUNTERS = {"task_cpu_ms", "gc_ms", *_PROGRESS_KEYS.values()}


@dataclass
class Call:
    span: str
    index: int
    start_ms: float
    end_ms: float = 0.0
    files_out: int = 0
    extra: dict[str, float] = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.span}#{self.index}"

    @property
    def wall_ms(self) -> float:
        return self.end_ms - self.start_ms


def _data_files(roots: list[str]) -> set[tuple[str, int, int]]:
    """Visible parquet files under ``roots``, with inode and mtime so a
    rewritten file counts as new."""
    found = set()
    for root in roots:
        for dirpath, dirnames, filenames in os.walk(root):
            dirnames[:] = [d for d in dirnames if not d.startswith(".")]
            for name in filenames:
                if name.startswith((".", "_")) or not name.endswith(".parquet"):
                    continue
                path = os.path.join(dirpath, name)
                try:
                    st = os.stat(path)
                except FileNotFoundError:
                    continue
                found.add((path, st.st_ino, st.st_mtime_ns))
    return found


class Tracer:
    """Spans of one run. ``enabled=False`` only times calls."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.calls: list[Call] = []
        self.progress: list[dict] = []
        self._lock = threading.Lock()
        self._counts: dict[str, int] = {}
        self.sc = None

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext
        if self.enabled:
            spark.streams.addListener(_ProgressListener(self))

    @contextmanager
    def span(self, name: str, writes: tuple[str, ...] = ()):
        """Time one call; traced, also tag its jobs and count the files
        it leaves under ``writes``."""
        index = self._counts.get(name, 0)
        self._counts[name] = index + 1
        before = _data_files(list(writes)) if self.enabled and writes else set()
        prev_group = None
        if self.enabled and self.sc is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", f"{name}#{index}")
        call = Call(name, index, time.time() * 1000.0)
        t0 = time.perf_counter()
        try:
            yield call
        finally:
            elapsed = (time.perf_counter() - t0) * 1000.0
            call.end_ms = call.start_ms + elapsed
            if self.enabled and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            if self.enabled and writes:
                call.files_out = len(_data_files(list(writes)) - before)
            self.calls.append(call)

    def add_progress(self, progress: dict) -> None:
        with self._lock:
            self.progress.append(progress)

    def wait_for_progress(self, expected: int, timeout_s: float = 10.0) -> None:
        """Listener events arrive asynchronously; wait until ``expected``
        progress events are in, or the timeout passes."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if len(self.progress) >= expected:
                    return
            time.sleep(0.05)


class _ProgressListener(StreamingQueryListener):
    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.tracer.add_progress({
            "run_id": str(p.runId),
            "timestamp": p.timestamp,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _iso_ms(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc
    ).timestamp() * 1000.0


def _innermost(calls: list[Call], t_ms: float | None) -> Call | None:
    if t_ms is None:
        return None
    inside = [c for c in calls if c.start_ms <= t_ms <= c.end_ms]
    return max(inside, key=lambda c: c.start_ms) if inside else None


def _call_at(calls: list[Call], t_ms: float, spans: set[str]) -> Call | None:
    for c in calls:
        if c.span in spans and c.start_ms - 5 <= t_ms <= c.end_ms + 5:
            return c
    return None


def read_event_log(path: str) -> dict[int, dict]:
    """Jobs (group, submit/complete ms, tasks, metric sums) from one
    application's Spark event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        lines = fh.readlines()
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "submit": ev.get("Submission Time"),
                "complete": None,
                "tasks": 0, "task_cpu_ms": 0.0, "gc_ms": 0.0,
                "input_bytes": 0, "output_bytes": 0, "shuffle_bytes": 0,
                "spill_bytes": 0,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["complete"] = ev.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            if job is None:
                continue
            m = ev.get("Task Metrics") or {}
            job["tasks"] += 1
            job["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            job["gc_ms"] += m.get("JVM GC Time", 0)
            job["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            job["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            job["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            job["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return jobs


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def fold(tracer: Tracer, event_log: str,
         span_counters: dict[str, list[str]]) -> dict[str, float]:
    """Per-layer metrics ``<span>.<counter>``, for the counters
    ``span_counters`` names, from the spans, the listener's progress
    events and the event log at ``event_log``."""
    jobs = read_event_log(event_log)
    calls = tracer.calls
    by_group = {c.group: c for c in calls}
    stream_spans = {"bronze.ingest", "scoring.batch"}
    # stream run id → the span call that started it
    run_call: dict[str, Call] = {}
    per_call: dict[str, dict[str, float]] = {c.group: defaultdict(float) for c in calls}
    for p in tracer.progress:
        call = _call_at(calls, _iso_ms(p["timestamp"]), stream_spans)
        if call is None:
            continue
        run_call.setdefault(p["run_id"], call)
        for key, counter in _PROGRESS_KEYS.items():
            per_call[call.group][counter] += p["duration_ms"].get(key, 0)
    intervals = [
        (j["submit"], j["complete"]) for j in jobs.values()
        if j["submit"] is not None and j["complete"] is not None
    ]
    for job in jobs.values():
        group = job["group"]
        # jobs from threads a call starts carry no group: the innermost
        # call running when they were submitted owns them
        call = by_group.get(group) or run_call.get(group) or _innermost(
            calls, job["submit"]
        )
        if call is None:
            continue
        acc = per_call[call.group]
        acc["jobs"] += 1
        for key in _JOB_KEYS:
            acc[key] += job[key]
    for c in calls:
        acc = per_call[c.group]
        acc.update(c.extra)
        acc["wall_ms"] = c.wall_ms
        acc["driver_ms"] = c.wall_ms - _covered_ms(intervals, c.start_ms, c.end_ms)
        acc["files_out"] = c.files_out
    metrics: dict[str, float] = {}
    for span, counters in span_counters.items():
        mine = [per_call[c.group] for c in calls if c.span == span]
        if not mine:
            continue
        for counter in counters:
            values = [float(acc[counter]) for acc in mine]
            agg = statistics.fmean if counter in MEAN_COUNTERS else statistics.median
            metrics[f"{span}.{counter}"] = agg(values)
    return metrics
