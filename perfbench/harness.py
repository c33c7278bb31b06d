"""Measurement plumbing shared by the workloads: op timing with failure
accounting, layer spans, Spark event-log aggregation, process memory.

Every layer is measured from outside the package. An op is one call of
a public function (``run_fetch``, a drain, a probe, one registry query)
timed by :meth:`Recorder.op`. In a traced run, :func:`patch_layers`
additionally wraps the public functions those ops call internally, so
each call becomes a span with its own Spark job group; after the run,
:func:`aggregate_event_log` reads Spark's own event log and attributes
every job, stage and task to the innermost span that was open when the
job was submitted.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import time
from collections import defaultdict


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100); ``inf`` values
    (failed ops) sort last, so failures count as missing every limit."""
    s = sorted(xs)
    if not s:
        return math.nan
    pos = (len(s) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    if lo == hi or s[hi] == s[lo]:
        return s[lo]
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs: list[float]) -> float:
    return percentile(xs, 50)


class Recorder:
    """Counts every attempted op, keeps each failure with its exception
    repr, and (traced) keeps spans in memory until the run ends."""

    def __init__(self, trace: bool):
        self.trace = trace
        self.sc = None
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failures: list[dict] = []
        self.spans: list[dict] = []
        self.calls: dict[str, list[float]] = defaultdict(list)
        self.storage_mb: list[float] = []
        self.op_window: list[tuple[float, float]] = []
        self._stack: list[str] = []
        self._seq = 0

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str):
        """A layer call. Untraced runs only pay a timer; traced runs
        also tag the call's jobs with a job group of their own."""
        if not self.trace:
            t = time.perf_counter()
            try:
                yield
            finally:
                self.calls[name].append(time.perf_counter() - t)
            return
        self._seq += 1
        group = f"pb{self._seq}:{name}"
        parent = self._stack[-1] if self._stack else None
        self.sc.setJobGroup(group, name)
        self._stack.append(group)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            if parent is None:
                self.sc.setJobGroup("pb0:idle", "idle")
            else:
                self.sc.setJobGroup(parent, parent.split(":", 1)[1])
            self.calls[name].append(t1 - t0)
            self.spans.append(
                {"name": name, "group": group, "parent": parent,
                 "t0": t0, "t1": t1}
            )

    def op(self, kind: str, fn, *args, **kwargs):
        """One timed product-path call. Returns ``(ok, result)``; a
        failure is recorded and its latency counted as infinite."""
        self.attempted += 1
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{kind}"):
                res = fn(*args, **kwargs)
            ok = True
        except Exception as exc:  # noqa: BLE001 - every failure is kept
            res = None
            ok = False
            self.failures.append({"op": kind, "error": repr(exc)[:2000]})
        dt = time.perf_counter() - t0
        self.op_window.append((w0, time.time()))
        self.lat[kind].append(dt if ok else math.inf)
        if self.trace:
            self.storage_mb.append(storage_used_mb(self.sc))
        return ok, res

    @property
    def failed(self) -> int:
        return len(self.failures)

    def call_median(self, name: str) -> float:
        xs = self.calls.get(name)
        return median(xs) if xs else 0.0


def storage_used_mb(sc) -> float:
    """Block-manager memory held by cached/checkpointed RDDs."""
    try:
        infos = sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() for i in infos) / 2**20
    except Exception:  # noqa: BLE001 - diagnostics only
        return 0.0


def _children(pid: int) -> list[int]:
    out: list[int] = []
    for f in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(f) as fh:
                out += [int(x) for x in fh.read().split()]
        except OSError:
            pass
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """VmHWM of this Python driver plus its JVM child (the Python
    workers the JVM forks are not counted)."""
    me = os.getpid()
    kb = _vm_hwm_kb(me)
    for c in _children(me):
        try:
            with open(f"/proc/{c}/cmdline", "rb") as fh:
                if b"java" in fh.read():
                    kb += _vm_hwm_kb(c)
        except OSError:
            pass
    return kb / 1024.0


def patch_layers(rec: Recorder) -> None:
    """Wrap the public functions the product paths call internally, at
    the module attribute their callers resolve at call time."""
    from reddit_apache_airflow_postgres_pipeline_spark.plans import pipelines
    from reddit_apache_airflow_postgres_pipeline_spark.sources import reddit
    from reddit_apache_airflow_postgres_pipeline_spark.streaming import (
        cms_stream,
        dedup_gate,
        drift_gate,
        hll_stream,
        span_gate,
        vector_index_stream,
    )

    targets = [
        (reddit, "reddit_listing_df", "sources.reddit.reddit_listing_df"),
        (pipelines, "write_atomic_csv", "sinks.csv.write_atomic_csv"),
        (pipelines, "read_csv_inbox", "sources.files.read_csv_inbox"),
        (pipelines, "combine_pipeline", "plans.pipelines.combine_pipeline"),
        (pipelines, "archive_files", "sinks.archive.archive_files"),
        (drift_gate, "run_drift_gate_available_now", "streaming.drift_gate"),
        (dedup_gate, "run_gate_available_now", "streaming.dedup_gate"),
        (span_gate, "run_span_gate_available_now", "streaming.span_gate"),
        (cms_stream, "run_cms_available_now", "streaming.sketch"),
        (hll_stream, "run_hll_available_now", "streaming.sketch"),
        (vector_index_stream, "run_text_index_append_available_now",
         "streaming.vector_index_stream"),
    ]
    for mod, attr, name in targets:
        orig = getattr(mod, attr)

        def wrapped(*a, __orig=orig, __name=name, **kw):
            with rec.span(__name):
                return __orig(*a, **kw)

        setattr(mod, attr, wrapped)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
    }


def _read_events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path, errors="replace") as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    try:
                        yield json.loads(line)
                    except ValueError:
                        continue


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def aggregate_event_log(log_dir: str, rec: Recorder) -> dict:
    """Per-span and whole-run Spark metrics from the event log. Jobs are
    attributed to the innermost span open at their submission time,
    which also covers streaming micro-batch jobs (they run under the
    query's own job group on a stream thread). Only jobs submitted
    inside a timed op count toward the run totals."""
    jobs: dict[tuple, dict] = {}
    stage_job: dict[tuple, tuple] = {}
    app = None
    for ev in _read_events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerApplicationStart":
            app = ev.get("App ID")
        elif kind == "SparkListenerJobStart":
            key = (app, ev["Job ID"])
            jobs[key] = {
                "t0": ev.get("Submission Time", 0) / 1000.0, "t1": None,
                "stages": set(ev.get("Stage IDs", [])), "tasks": 0,
                "run_ms": 0, "gc_ms": 0, "shuffle_write": 0, "spill": 0,
            }
            for s in ev.get("Stage IDs", []):
                stage_job.setdefault((app, s), key)
        elif kind == "SparkListenerJobEnd":
            j = jobs.get((app, ev["Job ID"]))
            if j is not None:
                j["t1"] = ev.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get((app, ev.get("Stage ID"))))
            if j is None:
                continue
            m = ev.get("Task Metrics") or {}
            j["tasks"] += 1
            j["run_ms"] += m.get("Executor Run Time", 0)
            j["gc_ms"] += m.get("JVM GC Time", 0)
            j["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            j["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    spans = sorted(rec.spans, key=lambda s: (s["t0"], -s["t1"]))
    for s in spans:
        s.update(jobs=0, stages=0, tasks=0, run_ms=0, gc_ms=0,
                 shuffle_write=0, spill=0, busy=[])
    windows = rec.op_window
    tot = defaultdict(float)
    busy: list[tuple[float, float]] = []
    for j in jobs.values():
        if j["t1"] is None:
            continue
        inner = None
        for s in spans:
            if s["t0"] <= j["t0"] <= s["t1"] and (
                inner is None or s["t1"] - s["t0"] <= inner["t1"] - inner["t0"]
            ):
                inner = s
        if inner is not None:
            inner["jobs"] += 1
            inner["stages"] += len(j["stages"])
            for k in ("tasks", "run_ms", "gc_ms", "shuffle_write", "spill"):
                inner[k] += j[k]
            inner["busy"].append((j["t0"], j["t1"]))
        if any(a <= j["t0"] <= b for a, b in windows):
            tot["jobs"] += 1
            tot["stages"] += len(j["stages"])
            for k in ("tasks", "run_ms", "gc_ms", "shuffle_write", "spill"):
                tot[k] += j[k]
            busy.append((j["t0"], j["t1"]))
    for s in spans:
        s["job_busy_s"] = _union_s(s.pop("busy"))
    busy_s = _union_s(busy)
    wall = sum(b - a for a, b in windows)
    storage = rec.storage_mb
    return {
        "spark.jobs": tot["jobs"],
        "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"],
        "spark.executor_run_ms": tot["run_ms"],
        "spark.gc_ms": tot["gc_ms"],
        "spark.shuffle_write_bytes": tot["shuffle_write"],
        "spark.spill_bytes": tot["spill"],
        "spark.job_busy_s": busy_s,
        "spark.driver_only_s": max(0.0, wall - busy_s),
        "spark.storage_used_mb": max(storage) if storage else 0.0,
    }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def subdirs(path: str, prefix: str = "") -> list[str]:
    if not os.path.isdir(path):
        return []
    return sorted(
        d for d in os.listdir(path)
        if d.startswith(prefix) and os.path.isdir(os.path.join(path, d))
    )
