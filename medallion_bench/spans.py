"""Tracing for the benchmark's traced run: in-memory spans around each
call into an engine layer, Spark job groups per layer, and metrics read
from outside the engine (the local Spark UI REST endpoint, JVM
management beans, ``/proc``).

With tracing off, ``Tracer.span`` records nothing and tags no jobs, so
the untraced run measures the engine alone."""

from __future__ import annotations

import itertools
import json
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from urllib.parse import urlparse

from stats import Span, self_times


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = None  # the SparkContext, once the session is up
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, trace_id: str, job_group: bool = True):
        """Time one layer call.  ``job_group`` tags the Spark jobs the call
        runs with ``(name, trace_id)`` so their stage metrics can be
        attributed after the run."""
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        span_id = next(self._ids)
        parent = stack[-1] if stack else None
        if job_group and self.sc is not None:
            self.sc.setJobGroup(name, trace_id)
        stack.append(span_id)
        start = time.monotonic()
        try:
            yield
        finally:
            end = time.monotonic()
            stack.pop()
            with self._lock:
                self.spans.append(Span(name, start, end, span_id, parent, trace_id))

    def write(self, path: str, extra: dict) -> None:
        """Write every span, with its self time, once at the end."""
        selfs = self_times(self.spans)
        t0 = min((s.start for s in self.spans), default=0.0)
        doc = {
            "spans": [
                {
                    "name": s.name,
                    "trace_id": s.trace_id,
                    "span_id": s.span_id,
                    "parent": s.parent,
                    "start_s": round(s.start - t0, 6),
                    "end_s": round(s.end - t0, 6),
                    "self_s": round(selfs[s.span_id], 6),
                }
                for s in self.spans
            ],
            **extra,
        }
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)

    def total(self, name: str, trace_ids=None) -> float:
        """Summed duration of the spans called ``name`` (of ``trace_ids``
        only, when given)."""
        return sum(
            s.end - s.start
            for s in self.spans
            if s.name == name and (trace_ids is None or s.trace_id in trace_ids)
        )

    def untag(self) -> None:
        """Tag the jobs this thread runs next as the benchmark's own, so
        output checks are not billed to the last layer called."""
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup("bench.other", "")


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def stage_metrics_by_group(spark) -> dict[tuple[str, str], dict[str, float]]:
    """Completed-stage metrics summed per (job group, job description),
    from the local Spark UI REST endpoint."""
    sc = spark.sparkContext
    port = urlparse(sc.uiWebUrl).port
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    jobs = _get_json(f"{base}/jobs")
    stages = {
        s["stageId"]: s
        for s in _get_json(f"{base}/stages?status=complete")
        if s.get("attemptId", 0) == 0
    }
    out: dict[tuple[str, str], dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for job in jobs:
        key = (job.get("jobGroup") or "", job.get("description") or "")
        agg = out[key]
        agg["jobs"] += 1
        for sid in job.get("stageIds", []):
            st = stages.get(sid)
            if st is None:  # skipped: its output was reused
                continue
            agg["stages"] += 1
            agg["tasks"] += st.get("numCompleteTasks", 0)
            agg["task_s"] += st.get("executorRunTime", 0) / 1000.0
            agg["input_mb"] += st.get("inputBytes", 0) / 2**20
            agg["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / 2**20
            agg["shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / 2**20
            agg["spill_mb"] += (
                st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
            ) / 2**20
    return out


def sum_groups(by_group, pred) -> dict[str, float]:
    total: dict[str, float] = defaultdict(float)
    for key, agg in by_group.items():
        if pred(*key):
            for k, v in agg.items():
                total[k] += v
    return total


def jvm_gc_and_heap(spark) -> tuple[float, float]:
    """(total GC seconds, summed peak usage of the heap pools in MiB) of
    the driver JVM, read from its management beans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    heap = sum(
        p.getPeakUsage().getUsed()
        for p in mf.getMemoryPoolMXBeans()
        if str(p.getType().toString()) == "Heap memory"
    )
    return gc_ms / 1000.0, heap / 2**20


def peak_rss_mb(*pids: int) -> float:
    """Summed peak resident set (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
