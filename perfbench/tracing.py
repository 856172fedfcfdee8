"""Spans recorded around calls into the engine, and the Spark-side
evidence joined to them: job groups, the uncompressed event log and a
streaming progress listener.

Every operation the benchmark times runs inside ``Recorder.op``. With
tracing off it only reads the clock. With tracing on it also tags the
Spark jobs the call launches with the job group
``<workload>:<op>:<phase>`` and the description ``pass=<n>``, so the event
log attributes each job, stage and task to one span.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import re
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str  # "<op>:<phase>" or "pass"
    start: float
    end: float
    pass_index: int  # -1 is the untimed correctness/warm-up pass
    parent: str  # "pass:<n>" for op spans, the workload for pass spans
    group: str = ""  # "<workload>:<op>:<phase>", the job group of a traced run


class Recorder:
    def __init__(self, workload: str, spark=None, traced: bool = False):
        self.workload = workload
        self._sc = spark.sparkContext if (traced and spark is not None) else None
        self.spans: list[Span] = []
        self.pass_index = -1

    @contextlib.contextmanager
    def passage(self, index: int):
        self.pass_index = index
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span("pass", start, time.time(), index, self.workload))

    @contextlib.contextmanager
    def op(self, name: str, phase: str):
        group = f"{self.workload}:{name}:{phase}"
        if self._sc is not None:
            self._sc.setJobGroup(group, f"pass={self.pass_index}")
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            if self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(f"{name}:{phase}", start, end, self.pass_index, f"pass:{self.pass_index}", group))

    def op_seconds(self, pass_index: int) -> dict[str, float]:
        """Seconds per ``<op>:<phase>`` span of one pass."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s.pass_index == pass_index and s.name != "pass":
                out[s.name] += s.end - s.start
        return dict(out)

    def pass_seconds(self) -> dict[int, float]:
        return {s.pass_index: s.end - s.start for s in self.spans if s.name == "pass"}

    def key_at(self, when: float) -> tuple[str, int]:
        """(job group, pass) of the operation span running at ``when``."""
        for s in self.spans:
            if s.group and s.start <= when <= s.end:
                return s.group, s.pass_index
        return "", -1


# -- event log ---------------------------------------------------------------

_PASS_RE = re.compile(r"pass=(-?\d+)")


def event_log_files(path: str) -> list[str]:
    """The event-log files of a ``spark.eventLog.dir``: one file per
    application, as rolling logs are turned off."""
    if os.path.isfile(path):
        return [path]
    return [os.path.join(path, e) for e in sorted(os.listdir(path)) if not e.startswith(".")]


@dataclass
class GroupStats:
    """What the event log says about one (job group, pass) key."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)


def parse_event_log(path: str, untagged=None) -> dict[tuple[str, int], GroupStats]:
    """Aggregate jobs, stages and task metrics by (job group, pass index).

    A job without a group (a streaming micro-batch runs on its query's own
    thread) is keyed ``untagged(submission_epoch_s)`` when given, else
    ``("", -1)``. Skipped stages are never submitted, so ``stages`` counts
    the stages that ran.
    """
    stats: dict[tuple[str, int], GroupStats] = defaultdict(GroupStats)
    job_key: dict[int, tuple[str, int]] = {}
    job_submit: dict[int, float] = {}
    stage_key: dict[int, tuple[str, int]] = {}
    for fname in event_log_files(path):
        with open(fname) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    m = _PASS_RE.search(props.get("spark.job.description") or "")
                    key = (props.get("spark.jobGroup.id") or "", int(m.group(1)) if m else -1)
                    if not key[0] and untagged is not None:
                        key = untagged(ev["Submission Time"] / 1000.0)
                    job_key[ev["Job ID"]] = key
                    job_submit[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", ()):
                        stage_key.setdefault(sid, key)
                    stats[key].jobs += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_key:
                        stats[job_key[jid]].job_intervals.append((job_submit[jid], ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stats[stage_key.get(sid, ("", -1))].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stats[stage_key.get(ev["Stage ID"], ("", -1))]
                    g.tasks += 1
                    m = ev.get("Task Metrics") or {}
                    g.executor_run_s += m.get("Executor Run Time", 0) / 1e3
                    g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    g.gc_s += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    g.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 2**20
                    sr = m.get("Shuffle Read Metrics") or {}
                    g.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20
                    g.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
    return dict(stats)


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


# -- streaming ---------------------------------------------------------------


def progress_listener_class():
    """A ``StreamingQueryListener`` subclass that keeps every trigger's
    (trigger start time, trigger seconds, state rows). Built lazily so importing
    this module needs no pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.triggers: list[tuple[float, float, int]] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            started = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            state_rows = sum(op.numRowsTotal for op in p.stateOperators)
            with self._lock:
                self.triggers.append((started, p.durationMs.get("triggerExecution", 0) / 1e3, state_rows))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def snapshot(self) -> list[tuple[float, float, int]]:
            with self._lock:
                return list(self.triggers)

    return ProgressLog
