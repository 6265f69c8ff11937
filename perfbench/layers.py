"""Per-layer metrics of a traced run, named after the package modules
they measure (``session``, ``registry``, ``sources``, ``operators``,
``streaming``, ``sinks``).

Every workload reports every metric; a layer a workload bypasses reads
0, which is how the trace shows that the bypass holds.  Unless stated
otherwise a metric is the mean per warm operation (a query invocation,
or an etl_incremental tick), so runs with different numbers of warm
passes compare.
"""

from __future__ import annotations

import statistics

import eventlog
from tracing import cached_mb, python_udf_s

UNITS = {
    "session.start_s": "s",
    "session.staged_builds": "count",        # cold pass
    "session.staged_builds_warm": "count",   # all warm passes
    "session.staged_excess_s": "s",
    "session.cached_mb": "MB",
    "registry.call_s": "s",
    "sources.load_table_hit_ratio": "ratio",
    "sources.read_mb": "MB",
    "sources.records_read": "count",
    "sources.readback_p50_s": "s",
    "operators.plan_ms": "ms",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.scheduler_delay_s": "s",
    "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_write_mb": "MB",
    "operators.shuffle_read_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.task_skew": "ratio",
    "operators.python_mb": "MB",
    "operators.python_udf_s": "s",
    "streaming.startup_s": "s",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.batches": "count",
    "sinks.rows_appended": "count",
    "sinks.useful_ratio": "ratio",
    "sinks.files_written": "count",
    "sinks.written_mb": "MB",
    "sinks.load_rows_per_s": "1/s",
    "sinks.warehouse_bytes_per_row": "B",
}

EVENTLOG_METRICS = {
    "sources.read_mb": "read_mb", "sources.records_read": "records_read",
    "operators.jobs": "jobs", "operators.stages": "stages",
    "operators.tasks": "tasks",
    "operators.scheduler_delay_s": "scheduler_delay_s",
    "operators.executor_run_s": "executor_run_s",
    "operators.executor_cpu_s": "executor_cpu_s", "operators.gc_s": "gc_s",
    "operators.shuffle_write_mb": "shuffle_write_mb",
    "operators.shuffle_read_mb": "shuffle_read_mb",
    "operators.spill_mb": "spill_mb", "operators.python_mb": "python_mb",
}


def session_state(spark) -> dict:
    """What must be read before the session stops."""
    return {"cached_mb": cached_mb(spark),
            "python_udf_s": python_udf_s(spark)}


def cold_warm_pairs(res) -> dict[str, dict]:
    """Per operation name: cold seconds and the warm median."""
    out: dict[str, dict] = {}
    for rec in res.ops.values():
        d = out.setdefault(rec["name"], {"cold_s": None, "warm": []})
        if rec["phase"] == "cold":
            d["cold_s"] = rec["s"]
        elif rec["phase"] == "warm":
            d["warm"].append(rec["s"])
    return {name: {"cold_s": d["cold_s"],
                   "warm_median_s": statistics.median(d["warm"])
                   if d["warm"] else None,
                   "warm_n": len(d["warm"])}
            for name, d in out.items()}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _sum_groups(groups: dict, ids: list[str]) -> dict:
    parts = [groups[g] for g in ids if g in groups]
    out = {f: sum(p[f] for p in parts) for f in eventlog.FIELDS}
    out["task_skew"] = max([p["task_skew"] for p in parts], default=1.0)
    return out


def _span_s(tracer, name: str, ops: set) -> list[float]:
    return [s["end"] - s["start"] for s in tracer.spans
            if s["name"] == name and s["op"] in ops]


def _stream_spans(tracer, ticks: list[dict]) -> None:
    """Attach each tick's progress phases under its ``tick`` span.  The
    listener gives durations only, so the children are laid end to end
    from the trigger's start."""
    tick_span = {s["op"]: i for i, s in enumerate(tracer.spans)
                 if s["name"] == "tick"}
    for t in ticks:
        parent = tick_span.get(f"tick{t['i']}")
        if parent is None:
            continue
        start = tracer.spans[parent]["start"]
        for p in t["progress"]:
            d = dict(p["durations"])
            total = d.pop("triggerExecution", 0) / 1e3
            trig = tracer.add("streaming.triggerExecution", f"tick{t['i']}",
                              parent, start, start + total)
            at = start
            for phase, ms in d.items():
                tracer.add(f"streaming.{phase}", f"tick{t['i']}", trig,
                           at, at + ms / 1e3)
                at += ms / 1e3
            start += total


def per_layer(workload: str, res, setup_s: float, state: dict, client,
              memo, tracer, log_dir: str) -> dict[str, float]:
    m = dict.fromkeys(UNITS, 0.0)
    m["session.start_s"] = setup_s
    m["session.cached_mb"] = state["cached_mb"]
    cold = {op for op, r in res.ops.items() if r["phase"] == "cold"}
    warm = {op for op, r in res.ops.items() if r["phase"] == "warm"}
    counts = memo.by_op
    m["session.staged_builds"] = sum(counts[op]["staged_builds"]
                                     for op in cold)
    m["session.staged_builds_warm"] = sum(counts[op]["staged_builds"]
                                          for op in warm)
    pairs = cold_warm_pairs(res)
    m["session.staged_excess_s"] = sum(
        res.ops[op]["s"] - (pairs[res.ops[op]["name"]]["warm_median_s"] or 0)
        for op in cold if counts[op]["staged_builds"])

    hits = sum(counts[op]["load_hits"] for op in warm)
    builds = sum(counts[op]["load_builds"] for op in warm)
    m["sources.load_table_hit_ratio"] = hits / (hits + builds) \
        if hits + builds else 0.0

    if workload != "etl_incremental":
        m["registry.call_s"] = _mean(_span_s(tracer, "registry.call", warm))
        m["operators.plan_ms"] = _mean(client.plan_ms[op] for op in warm)
        m["operators.python_udf_s"] = state["python_udf_s"] / len(warm)

    groups = eventlog.parse(eventlog.find_log(log_dir))
    empty = dict.fromkeys(eventlog.FIELDS, 0.0)
    if workload == "etl_incremental":
        # A tick's Spark work runs under its streaming run ids.
        per_op = [_sum_groups(groups, [f"tick{t['i']}", *t["runs"]])
                  for t in res.extra["tick_records"] if t["phase"] == "warm"]
    else:
        per_op = [groups.get(op, empty) for op in warm]
    for name, field in EVENTLOG_METRICS.items():
        m[name] = _mean(g[field] for g in per_op)
    m["operators.task_skew"] = _median(g["task_skew"] for g in per_op
                                       if g["jobs"])

    if workload == "etl_incremental":
        ticks = [t for t in res.extra["tick_records"]
                 if t["phase"] == "warm"]
        _stream_spans(tracer, res.extra["tick_records"])

        def phase(t, *names):
            return sum(p["durations"].get(n, 0) for p in t["progress"]
                       for n in names)

        m["streaming.startup_s"] = _median(
            t["tick_s"] - phase(t, "triggerExecution") / 1e3 for t in ticks)
        m["streaming.latest_offset_ms"] = _median(
            phase(t, "latestOffset") for t in ticks)
        m["streaming.query_planning_ms"] = _median(
            phase(t, "queryPlanning") for t in ticks)
        m["streaming.commit_ms"] = _median(
            phase(t, "walCommit", "commitOffsets") for t in ticks)
        m["streaming.add_batch_ms"] = _median(
            phase(t, "addBatch") for t in ticks)
        m["streaming.batches"] = _mean(len(t["progress"]) for t in ticks)
        m["sinks.rows_appended"] = _mean(t["appended"] for t in ticks)
        m["sinks.useful_ratio"] = sum(t["appended"] for t in ticks) \
            / max(sum(t["rows"] for t in ticks), 1)
        m["sinks.files_written"] = _mean(t["files"] for t in ticks)
        m["sinks.written_mb"] = _mean(t["bytes"] / 1e6 for t in ticks)
        m["sinks.load_rows_per_s"] = res.extra["load_rows_per_s"]
        m["sinks.warehouse_bytes_per_row"] = \
            res.extra["warehouse_bytes_per_row"]
        m["sources.readback_p50_s"] = res.extra["readback_p50_s"]
    return m
