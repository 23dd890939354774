"""Tracing for the traced run: spans around the program's public
functions, Spark's JSON event log, and a streaming-query listener.

Spans live in the benchmark: the module attributes that
``plans.pipeline``, ``__spark_entry__`` and the gates call are
replaced by ``Span`` objects. Each span records wall and self time
per (pass, op, layer) and sets the ``perfbench.span`` local property,
which every job it launches carries into the event log, so task
metrics are attributed to the innermost layer that ran the job.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import re
import sys
import threading
import time
from collections import defaultdict
from datetime import datetime

PROP = "perfbench.span"
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
UNTRACED = ("-", "-", "untraced")  # jobs launched outside any span


class Span:
    """Callable stand-in for a module function. Pickles as the
    original function, so Python workers (which import the module
    afresh) run it untraced."""

    def __init__(self, tracer: "Tracer", fn, layer: str, after=None):
        functools.update_wrapper(self, fn)
        self.fn = fn
        self.layer = layer
        self.after = after
        self.tracer = tracer

    def __call__(self, *args, **kwargs):
        return self.tracer.call(self, args, kwargs)

    def __reduce__(self):
        return getattr, (sys.modules[self.fn.__module__], self.fn.__name__)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.main = threading.get_ident()
        self.key = ("", "")  # (pass, op)
        self.stack: list[list[float]] = []
        self.self_s: dict[tuple, float] = defaultdict(float)
        self.counts: dict[tuple, float] = defaultdict(float)
        self.windows: list[tuple[float, float, tuple]] = []
        self.installed: list[tuple] = []

    # -- spans ---------------------------------------------------------
    def call(self, span: Span, args, kwargs):
        if threading.get_ident() != self.main:
            return span.fn(*args, **kwargs)
        with self.layer(span.layer):
            out = span.fn(*args, **kwargs)
            if span.after is not None:
                span.after(self, args, kwargs, out)
            return out

    def count(self, name: str, value: float) -> None:
        self.counts[(*self.key, name)] += value

    @contextlib.contextmanager
    def layer(self, name: str):
        """A span: self time of ``name`` under the current (pass, op),
        and the span property on every job started inside it."""
        prev = self.sc.getLocalProperty(PROP)
        child = [0.0]  # time spent in nested spans
        self.stack.append(child)
        self.sc.setLocalProperty(PROP, "|".join((*self.key, name)))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - t0
            self.stack.pop()
            self.self_s[(*self.key, name)] += dur - child[0]
            if self.stack:
                self.stack[-1][0] += dur
            self.sc.setLocalProperty(PROP, prev)

    @contextlib.contextmanager
    def op(self, pass_id: int, op: str):
        prev, self.key = self.key, (str(pass_id), op)
        t0 = time.time()
        try:
            yield
        finally:
            self.windows.append((t0, time.time(), self.key))
            self.key = prev

    # -- installation --------------------------------------------------
    def wrap(self, module, attr: str, layer: str, after=None) -> None:
        fn = getattr(module, attr)
        if isinstance(fn, Span):
            return
        setattr(module, attr, Span(self, fn, layer, after))
        self.installed.append((module, attr, fn))

    def wrap_module(self, module, prefix: str) -> None:
        """Wrap every public plain function ``module`` defines."""
        for name, fn in list(vars(module).items()):
            if (
                name.startswith("_")
                or not inspect.isfunction(fn)
                or fn.__module__ != module.__name__
                or hasattr(fn, "evalType")  # a pandas/Arrow UDF
            ):
                continue
            self.wrap(module, name, f"{prefix}.{name}")

    def uninstall(self) -> None:
        for module, attr, fn in reversed(self.installed):
            setattr(module, attr, fn)
        self.installed.clear()


def stream_listener(records: list):
    """A ``StreamingQueryListener`` that appends one dict per
    micro-batch progress to ``records``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            records.append({
                "ts": datetime.fromisoformat(
                    p.timestamp.replace("Z", "+00:00")
                ).timestamp(),
                "duration_ms": dict(p.durationMs),
                "state_commit_ms": sum(o.commitTimeMs for o in p.stateOperators),
                "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
                "input_rows": p.numInputRows,
                "run_id": str(p.runId),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def assign(windows, ts: float):
    """The (pass, op) key whose wall-clock window holds ``ts``."""
    for t0, t1, key in windows:
        if t0 <= ts <= t1:
            return key
    return None


SPARK_FIELDS = (
    "jobs", "tasks", "task_s", "executor_cpu_s", "scheduler_delay_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s",
    "python_bytes", "failed_tasks", "job_s",
)


def parse_event_log(log_dir: str) -> dict[tuple, dict[str, float]]:
    """Spark runtime metrics per (pass, op, layer) from the JSON event
    log: jobs and their wall time from job start/end, the rest summed
    over ``SparkListenerTaskEnd`` records of the job's stages. Jobs
    without the span property land under ``UNTRACED``."""
    stage_key: dict[int, tuple] = {}
    job_key: dict[int, tuple] = {}
    job_start: dict[int, float] = {}
    out: dict[tuple, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_FIELDS, 0.0))
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    span = (ev.get("Properties") or {}).get(PROP)
                    key = tuple(span.split("|")) if span else UNTRACED
                    job_key[ev["Job ID"]] = key
                    job_start[ev["Job ID"]] = ev["Submission Time"]
                    out[key]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_key[sid] = key
                elif kind == "SparkListenerJobEnd":
                    key = job_key.get(ev["Job ID"])
                    if key is not None:
                        out[key]["job_s"] += (
                            ev["Completion Time"] - job_start[ev["Job ID"]]
                        ) / 1e3
                elif kind == "SparkListenerTaskEnd":
                    key = stage_key.get(ev["Stage ID"])
                    if key is not None:
                        _add_task(out[key], ev)
    return dict(out)


def _add_task(acc: dict[str, float], ev: dict) -> None:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    dur = (info["Finish Time"] - info["Launch Time"]) / 1e3
    run = m.get("Executor Run Time", 0) / 1e3
    overhead = (
        m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    ) / 1e3
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    acc["tasks"] += 1
    acc["task_s"] += dur
    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["scheduler_delay_s"] += max(0.0, dur - run - overhead)
    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    acc["python_bytes"] += sum(
        int(a.get("Update", 0))
        for a in info.get("Accumulables", [])
        if a.get("Name") in PY_BYTES
    )
    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        acc["failed_tasks"] += 1


_GC_PAUSE = re.compile(r"(\d+)([KMG])->(\d+)([KMG])\(\d+[KMG]\)")
_MB = {"K": 1 / 1024, "M": 1, "G": 1024}


def heap_after_gc_peak_mb(gc_log: str) -> float:
    """Largest heap occupancy right after a collection, from the JVM's
    ``-Xlog:gc`` file: the most the program held live on the heap,
    which the pre-touched heap hides from the process's RSS."""
    peak = 0.0
    with open(gc_log) as fh:
        for line in fh:
            m = _GC_PAUSE.search(line)
            if m:
                peak = max(peak, int(m.group(3)) * _MB[m.group(4)])
    return peak
