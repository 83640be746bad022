"""Tracing for the benchmark: spans around the package's public calls
and counters harvested from Spark's in-process status stores.

Spans are recorded from the benchmark's own files by wrapping the
package's entry points for the duration of a traced segment
(:meth:`Tracer.wrap` / :meth:`Tracer.restore`); nothing inside the
package is changed. Spark counters come from ``statusTracker`` (job ids
by job group) and the app and SQL status stores, which stay live with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import functools
import re
import time
from contextlib import contextmanager

STAGE_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
    "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "python_init_ms", "python_run_ms",
)


class TraceError(Exception):
    """A traced run did not record what its per-layer metrics need."""


def require(xs: list, what: str) -> list:
    """``xs``, or a TraceError when it is empty: a wrapped call that
    never fired must not read as a metric of 0."""
    if not xs:
        raise TraceError(f"traced run recorded no {what}")
    return xs


class Tracer:
    """In-memory spans: name, parent span, start and end. A span opened
    while another is open is its child."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans), "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def inside(self, name: str) -> bool:
        return any(self.spans[i]["name"] == name for i in self._open)

    def wrap(self, owner, attr: str, name: str, only_inside: str | None = None,
             on_result=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records span ``name``
        around each call (only while span ``only_inside`` is open, when
        given). ``on_result(rec, result)`` may annotate the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if only_inside is not None and not self.inside(only_inside):
                return orig(*args, **kwargs)
            with self.span(name) as rec:
                result = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, result)
                return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def child_time(self, rec: dict, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] == rec["id"] and s["name"] == name)

    def dump(self) -> list[dict]:
        return [dict(s) for s in self.spans]


def job_ids(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


_UNITS_MS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}
_TIMING = re.compile(r"([0-9.]+) (ms|s|m|h)\b")


def _timing_ms(text: str) -> float:
    """A SQL timing metric as the status store formats it: either
    ``'645 ms'`` or ``'total (min, med, max ...)\\n2.0 s (...)'``."""
    m = _TIMING.search(text.split("\n")[-1])
    return float(m.group(1)) * _UNITS_MS[m.group(2)] if m else 0.0


def harvest(spark, jobs: list[int]) -> dict[str, float]:
    """Totals of the stage counters over ``jobs``: attempted stages and
    their tasks, executor run/CPU/GC time, shuffle and spill bytes, and
    the Python-worker init/run time of the SQL executions that ran
    them."""
    require(jobs, "Spark jobs in the job group")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(STAGE_COUNTERS, 0.0)
    out["jobs"] = float(len(jobs))
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    for s in stage_ids:
        sd = store.lastStageAttempt(s)
        if sd.numCompleteTasks() == 0:
            continue  # skipped: its output was reused
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["executor_run_ms"] += sd.executorRunTime()
        out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
        out["gc_ms"] += sd.jvmGcTime()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["spill_bytes"] += sd.diskBytesSpilled()
    sql = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    wanted = set(jobs)
    seen: set[int] = set()
    for ex in conv.asJava(sql.executionsList()):
        if not wanted & {int(j) for j in conv.asJava(ex.jobs().keySet())}:
            continue
        values = sql.executionMetrics(ex.executionId())
        for m in conv.asJava(ex.metrics()):
            key = {"time to initialize Python workers": "python_init_ms",
                   "time to run Python workers": "python_run_ms"}.get(m.name())
            acc = m.accumulatorId()
            if key is None or acc in seen:
                continue
            seen.add(acc)
            v = values.get(acc)
            if v.isDefined():
                out[key] += _timing_ms(v.get())
    return out
