"""Tracing for the traced benchmark run.

Three recorders, all fed from the benchmark's own files:

- :class:`SpanRecorder` keeps spans (name, start, end, parent, op id)
  in memory; :func:`self_time` subtracts the union of child intervals.
- :func:`parse_event_log` / :func:`attribute_jobs` read Spark's
  uncompressed event log and charge every job, stage and task metric
  to the span whose ``bench:<op id>:<name>`` job description it
  carries, or, for jobs submitted from threads Spark owns (streaming
  micro-batches), to the op span whose interval holds the submission.
- :class:`ProgressRecorder` collects streaming progress events from a
  ``StreamingQueryListener`` (:func:`make_listener`).
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from datetime import datetime, timezone


@dataclass
class Span:
    sid: int
    name: str
    op_id: int
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class SpanRecorder:
    """In-memory span store. One client drives the benchmark, so a
    plain stack gives each span its parent."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # perf_counter for durations, anchored once to the epoch so span
        # bounds line up with the event log's millisecond timestamps
        self._epoch0 = time.time() - time.perf_counter()

    def now(self) -> float:
        return self._epoch0 + time.perf_counter()

    @contextmanager
    def span(self, name: str, op_id: int, **attrs):
        sp = Span(len(self.spans), name, op_id, self._stack[-1] if self._stack else None,
                  self.now(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp.sid)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = self.now()

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]


class NullRecorder:
    """Span recorder of the untraced run (and of untimed ops): records
    nothing."""

    def span(self, name, op_id, **attrs):
        return nullcontext()


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping ``(start, end)``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, child_intervals) -> float:
    """Wall time of ``[start, end]`` not covered by any child interval
    (children clipped to the parent; overlaps counted once)."""
    clipped = [(max(s, start), min(e, end)) for s, e in child_intervals]
    return (end - start) - union_length([(s, e) for s, e in clipped if e > s])


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

#: SQL task metrics (all milliseconds) read from task-end accumulables
_PY_METRICS = {
    "time to start Python workers": "python_worker_start_s",
    "time to initialize Python workers": "python_worker_init_s",
    "time to run Python workers": "python_worker_run_s",
}

COUNTERS = (
    "jobs", "stages", "tasks", "scheduler_delay_s", "executor_run_s",
    "executor_cpu_s", "gc_s", "scan_bytes", "shuffle_write_bytes",
    "shuffle_read_bytes", "shuffle_fetch_wait_s", "spill_bytes",
    "python_worker_start_s", "python_worker_init_s", "python_worker_run_s",
)


@dataclass
class Job:
    job_id: int
    app: str
    description: str | None
    submit: float  # epoch seconds
    end: float
    stage_ids: list[int]


def _event_files(log_dir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(log_dir):
        out += [os.path.join(root, f) for f in files
                if not f.startswith(".") and not f.startswith("appstatus")]
    return sorted(out)


def parse_event_log(log_dir: str) -> tuple[list[Job], dict]:
    """Jobs, and per-(app, stage) task metric sums, from every event log
    file under ``log_dir`` (one application per SparkContext)."""
    jobs: dict[tuple[str, int], Job] = {}
    stages: dict[tuple[str, int], dict] = defaultdict(lambda: defaultdict(float))
    for path in _event_files(log_dir):
        # one file (or one rolling-log directory) per application
        app = os.path.relpath(path, log_dir).split(os.sep)[0]
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[(app, e["Job ID"])] = Job(
                        e["Job ID"], app, props.get("spark.job.description"),
                        e["Submission Time"] / 1000.0, 0.0, list(e["Stage IDs"]))
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get((app, e["Job ID"]))
                    if job is not None:
                        job.end = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stages[(app, e["Stage ID"])], e)
    return list(jobs.values()), stages


def _add_task(acc: dict, e: dict) -> None:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    acc["tasks"] += 1
    acc["executor_run_s"] += run_ms / 1e3
    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    acc["scheduler_delay_s"] += max(
        0,
        info.get("Finish Time", 0) - info.get("Launch Time", 0) - run_ms
        - m.get("Executor Deserialize Time", 0) - m.get("Result Serialization Time", 0)
        - info.get("Getting Result Time", 0),
    ) / 1e3
    acc["scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    acc["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for a in info.get("Accumulables") or []:
        key = _PY_METRICS.get(a.get("Name"))
        if key is not None:
            acc[key] += float(a.get("Update") or 0) / 1e3


def attribute_jobs(op_spans: list[Span], jobs: list[Job], stages: dict) -> dict[int, dict]:
    """Spark counters per op span (keyed by span id).

    A job whose description is ``bench:<op id>:...`` belongs to that
    op's span; a job without one (streaming micro-batches run on
    Spark's own threads) belongs to the op span holding its submission
    time. Each stage's tasks are charged once, to the first job that
    lists it. Also returns, under ``job_intervals``, the job intervals
    per span for driver-only time."""
    by_op = {sp.op_id: sp for sp in op_spans}
    ordered = sorted(op_spans, key=lambda s: s.start)
    out: dict[int, dict] = {sp.sid: defaultdict(float) for sp in op_spans}
    intervals: dict[int, list] = defaultdict(list)
    seen_stages: set = set()
    for job in sorted(jobs, key=lambda j: (j.app, j.job_id)):
        sp = None
        desc = job.description or ""
        if desc.startswith("bench:"):
            try:
                sp = by_op.get(int(desc.split(":")[1]))
            except ValueError:
                sp = None
        else:
            sp = next((s for s in ordered if s.start <= job.submit <= s.end), None)
        if sp is None:
            continue
        acc = out[sp.sid]
        acc["jobs"] += 1
        intervals[sp.sid].append((job.submit, job.end or job.submit))
        for sid in job.stage_ids:
            key = (job.app, sid)
            if key in seen_stages or key not in stages:
                continue  # skipped (reused) stage, or charged to an earlier job
            seen_stages.add(key)
            acc["stages"] += 1
            for k, v in stages[key].items():
                acc[k] += v
    for sid, acc in out.items():
        acc["job_intervals"] = intervals.get(sid, [])
    return out


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------


def _progress_time(ts: str) -> float:
    return datetime.strptime(ts[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


class ProgressRecorder:
    """Thread-safe store of streaming progress records, one per
    micro-batch: trigger time, addBatch / walCommit ms, summed state
    store commit ms and state rows."""

    def __init__(self):
        self._lock = threading.Lock()
        self.batches: list[dict] = []

    def add(self, progress) -> None:
        d = progress.durationMs or {}
        ops = progress.stateOperators or []
        rec = {
            "t": _progress_time(progress.timestamp),
            "add_batch_s": d.get("addBatch", 0) / 1e3,
            "wal_commit_s": d.get("walCommit", 0) / 1e3,
            "state_commit_s": sum(o.commitTimeMs for o in ops) / 1e3,
            "state_rows": sum(o.numRowsTotal for o in ops),
        }
        with self._lock:
            self.batches.append(rec)

    def for_span(self, start: float, end: float) -> list[dict]:
        with self._lock:
            return [b for b in self.batches if start <= b["t"] <= end]


def make_listener(recorder: ProgressRecorder):
    """A StreamingQueryListener feeding ``recorder`` (the class is built
    here so importing this module does not need a Spark session)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            recorder.add(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
