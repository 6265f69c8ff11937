"""Tracing done from the benchmark's side of each layer boundary.

* ``Tracer`` keeps spans in memory (name, operation id, parent, start,
  end) and reports self time per span name.
* ``MemoCounter`` wraps ``session.session_memo`` so every table
  resolution (``load_table``) and staged-table build is counted against
  the operation that triggered it.  Call sites import ``session_memo``
  when they run, so patching the module attribute reaches all of them.
* ``StreamPhases`` collects ``StreamingQueryListener`` progress events
  per tick.
* ``plan_ms`` reads analysis/optimization/planning time from a frame's
  ``QueryPlanningTracker``.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

now = time.perf_counter


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "op": op, "parent": parent,
               "start": now(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = now()

    def add(self, name: str, op: str, parent: int | None,
            start: float, end: float) -> int:
        """Record a span measured elsewhere (e.g. a streaming phase)."""
        self.spans.append({"name": name, "op": op, "parent": parent,
                           "start": start, "end": end})
        return len(self.spans) - 1

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its children cover."""
        child_time = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += max(0.0, s["end"] - s["start"] - child_time[i])
        return {k: round(v, 6) for k, v in out.items()}


class MemoCounter:
    """Counts ``session_memo`` hits and builds per operation."""

    SKIP = ("tune_for_oracle:",)

    def __init__(self):
        self.op: str | None = None
        self.by_op: dict[str, dict[str, int]] = defaultdict(
            lambda: dict.fromkeys(
                ("load_hits", "load_builds", "staged_hits",
                 "staged_builds"), 0))
        self._orig = None

    def install(self, session_module) -> None:
        orig = self._orig = session_module.session_memo

        def counted(spark, key, build):
            built = []

            def counting_build():
                built.append(True)
                return build()

            value = orig(spark, key, counting_build)
            if self.op is not None and not key.startswith(self.SKIP):
                kind = "load" if key.startswith("load_table:") else "staged"
                self.by_op[self.op][
                    f"{kind}_builds" if built else f"{kind}_hits"] += 1
            return value

        session_module.session_memo = counted

    def uninstall(self, session_module) -> None:
        if self._orig is not None:
            session_module.session_memo = self._orig
            self._orig = None


class StreamPhases(StreamingQueryListener):
    """Progress of each streaming query run, keyed by run id."""

    def __init__(self):
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self.runs: list[str] = []
        self._done: dict[str, threading.Event] = defaultdict(
            threading.Event)

    def onQueryStarted(self, event):
        self.runs.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        self.progress[str(p.runId)].append({"durations": dict(p.durationMs)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self._done[str(event.runId)].set()

    def collect(self, runs_before: int, timeout: float = 10.0) -> dict:
        """Run ids and progress of the query runs started after
        ``runs_before`` runs, once each has reported its termination
        (events arrive asynchronously).  Spark runs each streaming
        query's jobs under the run id as job group."""
        deadline = now() + timeout
        while len(self.runs) <= runs_before and now() < deadline:
            time.sleep(0.01)
        runs = self.runs[runs_before:]
        progress = []
        for run_id in runs:
            self._done[run_id].wait(max(0.0, deadline - now()))
            progress.extend(self.progress[run_id])
        return {"runs": runs, "progress": progress}


def plan_ms(df) -> float:
    """Force physical planning and return analysis + optimization +
    planning milliseconds from the frame's planning tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs()
    return float(total)


def cached_mb(spark) -> float:
    """Persisted RDD storage (memory + disk) in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def python_udf_s(spark) -> float:
    """Seconds recorded by the Python UDF profiler, over all UDFs."""
    results = spark._profiler_collector._perf_profile_results
    return float(sum(s.total_tt for s in results.values() if s))
