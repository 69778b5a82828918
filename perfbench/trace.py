"""Spans around calls into the package, with each span's Spark jobs and
stages read from the driver's status store.

A span tags the Spark jobs started inside it with a unique job tag
(``SparkContext.addJobTag``); when the span closes it waits for the listener
bus to drain and reads the tagged jobs' stages from
``statusTracker()`` / ``statusStore()`` right away, before the store evicts
old stages. Spans are kept in memory and written as JSONL at the end of the
run. Nothing here runs unless the benchmark is started with ``--trace 1``.
"""

from __future__ import annotations

import functools
import itertools
import json
import time
from contextlib import contextmanager
from pathlib import Path

from py4j.protocol import Py4JJavaError

# StageData accessor → (summary key, scale to the reported unit)
STAGE_FIELDS = {
    "numTasks": ("tasks", 1),
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "inputBytes": ("input_bytes", 1),
    "outputBytes": ("bytes_written", 1),
}


class SparkStats:
    """Job and stage totals of the jobs carrying a job tag (classic Spark
    only: it reads the JVM-side status store)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = self._jsc.statusTracker()

    def summarize(self, tag: str) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        job_ids = sorted(int(j) for j in self._tracker.getJobIdsForTag(tag))
        out = {"jobs": len(job_ids), "stages": 0, "job_s": 0.0}
        out.update({key: 0 for key, _ in STAGE_FIELDS.values()})
        intervals, stage_ids = [], set()
        for jid in job_ids:
            job = self._store.job(jid)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append(
                    (job.submissionTime().get().getTime(), job.completionTime().get().getTime())
                )
            stage_ids.update(int(s) for s in job.stageIds().mkString(",").split(",") if s)
        for sid in sorted(stage_ids):
            try:
                stage = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # never submitted (its job reused another's output)
            if stage.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            for field, (key, scale) in STAGE_FIELDS.items():
                out[key] += getattr(stage, field)() * scale
        out["job_s"] = _union_ms(intervals) / 1e3
        return out


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Tracer:
    """Collects spans for one traced run; ``trace_id`` groups the spans of
    one operation (one ``begin_trace`` per op)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._stats = SparkStats(spark)
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self.spans: list[dict] = []
        self.trace_id: str | None = None
        # time spent reading statistics at span close: the tracing overhead
        self.overhead_s = 0.0

    def begin_trace(self, trace_id: str) -> None:
        self.trace_id = trace_id

    @contextmanager
    def span(self, name: str, **attrs):
        span_id = next(self._ids)
        tag = f"perfbench-span-{span_id}"
        rec = {
            "trace_id": self.trace_id,
            "span_id": span_id,
            "parent": self._stack[-1]["span_id"] if self._stack else None,
            "name": name,
            **attrs,
        }
        self._stack.append(rec)
        self._sc.addJobTag(tag)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            rec["wall_s"] = t1 - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            self._sc.removeJobTag(tag)
            self._stack.pop()
            rec.update(self._stats.summarize(tag))
            rec["driver_s"] = max(rec["wall_s"] - rec["job_s"], 0.0)
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` (the name the caller looks up) with a
        spanned wrapper; returns the undo callable."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, spanned)
        return lambda: setattr(owner, attr, original)

    def write_jsonl(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["span_id"]):
                fh.write(json.dumps(rec, default=str) + "\n")


@contextmanager
def patched(tracer: Tracer, targets):
    """Install ``tracer.wrap`` over every (owner, attr, span name) target
    for the duration of the block."""
    undo = [tracer.wrap(owner, attr, name) for owner, attr, name in targets]
    try:
        yield
    finally:
        for fn in reversed(undo):
            fn()
