"""Tracing for the benchmark: spans, engine counters, memory.

Spans are recorded by the benchmark's own code around each call into a
layer's public function; the program itself is not instrumented. Each
span has a name (``<layer>.<function>``), a start and end, its parent
and the id of the job it belongs to. Spans stay in memory and are
written out when the run ends.

Spark local properties tag every Spark job with the benchmark job and
phase (traced or not) and, while a span is open, the span's id. The
event log, parsed after the run, carries the tags to each task, so task
metrics can be summed per benchmark job or per span.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"
JOB_PROPERTY = "perfbench.job"
PHASE_PROPERTY = "perfbench.phase"


class NullTracer:
    """Untraced runs: spans cost nothing and layer boundaries stay lazy."""

    enabled = False

    @contextmanager
    def span(self, name: str):
        yield {}

    def cut(self, df):
        return df

    def start_job(self, job: int) -> None:
        pass


class Tracer(NullTracer):
    """Traced runs: records spans and materialises each layer's output
    (``localCheckpoint``) at the boundary, so a lazy layer's execution
    lands in its own span instead of in whichever later call forces it."""

    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.job: int | None = None

    def start_job(self, job: int) -> None:
        self.job = job

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "job": self.job,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None,
               "wall_start_ms": time.time() * 1000.0}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROPERTY, str(self._stack[-1]) if self._stack else None)

    def cut(self, df):
        return df.localCheckpoint()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the time its children cover (children of
    one span run one after another, so their durations add up)."""
    own = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


class EventLog:
    """Task metrics from the newest Spark event log in ``log_dir`` (the
    measured session's), each task tagged with the local properties of
    the Spark job it ran for: ``perfbench.phase``, ``perfbench.job`` (the
    benchmark job) and ``perfbench.span``."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        newest = max(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
        # Spark 4 writes a rolling log: a directory of numbered event files
        parts = sorted(glob.glob(os.path.join(newest, "events_*")),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
        for path in parts or [newest]:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            span, job = props.get(SPAN_PROPERTY), props.get(JOB_PROPERTY)
            self.jobs[e["Job ID"]] = {
                "span": int(span) if span else None,
                "job": int(job) if job else None,
                "phase": props.get(PHASE_PROPERTY),
            }
            for sid in e.get("Stage IDs", []):
                self.stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            info = e.get("Task Info") or {}
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            inp = m.get("Input Metrics") or {}
            self.tasks.append({
                "job": self.stage_job.get(e.get("Stage ID")),
                "launch_ms": info.get("Launch Time"),
                "failed": bool(info.get("Failed")),
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "bytes_read": inp.get("Bytes Read", 0),
                "rows_read": inp.get("Records Read", 0),
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            })

    def tagged(self, task: dict) -> dict:
        return self.jobs.get(task["job"]) or {"span": None, "job": None, "phase": None}


class StreamingStats:
    """Collects ``StreamingQueryListener`` progress events."""

    def __init__(self):
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        stats = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                if p.numInputRows == 0 and not p.stateOperators:
                    return  # idle trigger: no batch ran
                with stats._lock:
                    stats.progress.append({
                        "duration": dict(p.durationMs),
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                        "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                        "late_rows": sum(s.numRowsDroppedByWatermark for s in p.stateOperators),
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and its Python workers), sampled from ``/proc``; ``take_peak``
    returns the peak since the previous call."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid()] + descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue  # process ended while sampling
        with self._lock:
            self.peak_bytes = max(self.peak_bytes, total)

    def take_peak(self) -> int:
        self.sample()
        with self._lock:
            peak, self.peak_bytes = self.peak_bytes, 0
        return peak


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue  # process ended while listing
        children.setdefault(ppid, []).append(int(stat.split("/")[2]))
    found, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        found.extend(kids)
        todo.extend(kids)
    return found
