"""The benchmark workloads.  Each is a closed loop driven by one client
(this process): it issues its next operation only after the previous
one returned.

* ``curation_cold``: training-data curation queries that build the
  session's staged tables on first use, plus queries that ship rows to
  Python workers.  Cold against warm shows what the staged tables cost.
* ``etl_incremental``: the reference's incremental load as scheduled
  ticks: land a batch file, run ``streaming_incremental_load``, then
  read the warehouse back.  The only workload that writes.

Each function returns a ``Result``: end-to-end figures, per-operation
samples for the trace summary, and the correctness-gate outcome.  The
gate uses the repository's own DuckDB comparison,
``tests/oracle_compare.py``.
"""

from __future__ import annotations

import glob
import hashlib
import os
import statistics
from contextlib import nullcontext
from dataclasses import dataclass, field

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from datagen import EtlBatches
from tests.oracle_compare import compare, duckdb_run
from tracing import now, plan_ms

# The query mix is sized so that all of a run (three set-ups, cold
# pass, warm-up, warm window, gate) fits the benchmark's time budget on
# 4 cores.  Every query here either builds staged tables on first use
# (pruned_tri_shingles and tri_neardup_pairs, shared by the two trigram
# queries) or runs Python workers (the PNG codec).
CURATION_COLD = [
    "near_dup_rate_by_source", "split_leakage_pairs",
    "multimodal_png_roundtrip",
]

# Fresh rows per etl_incremental tick (re-sends and in-batch duplicates
# come on top).
ETL_FRESH_ROWS = 4000

# Untimed warm-up before the measured window.  Per-operation time keeps
# falling for several passes or ticks while the JIT compiles the warm
# path; without a warm-up the warm medians depend on how many passes fit
# in the window, so a slow host also reads as an unwarmed one.
WARMUP_PASSES = 4
ETL_WARMUP_TICKS = 5


@dataclass
class Result:
    cold_pass_s: float
    cold_cpu_s: float
    warm_pass_s: float
    warm_cpu_s: float
    warm_latencies: list[float]
    attempted: int
    failed: int
    failures: list[str] = field(default_factory=list)
    # operation id -> {"name", "phase": cold|warm, "s", ...}
    ops: dict[str, dict] = field(default_factory=dict)
    extra: dict = field(default_factory=dict)


class Collected:
    """A result already collected to the driver, in the shape
    ``oracle_compare.compare`` takes (it calls ``toPandas``)."""

    def __init__(self, frame):
        self.frame = frame

    def toPandas(self):
        return self.frame


def expected(sql: str, data_dir: str, cache_dir: str):
    """DuckDB's result of ``sql`` over the tables in ``data_dir``.

    The tables are fixed, so the result is kept in ``cache_dir`` under a
    key of the SQL text, the tables' checksums and the DuckDB version,
    and later runs in the same checkout read it back instead of
    recomputing it (several seconds per run for the trigram queries).
    """
    with open(os.path.join(data_dir, "SHA256SUMS"), "rb") as fh:
        tables = fh.read()
    key = hashlib.sha256(b"\0".join(
        [sql.encode(), tables, duckdb.__version__.encode()])).hexdigest()
    path = os.path.join(cache_dir, f"{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    frame = duckdb_run(sql, data_dir)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    frame.to_pickle(tmp)
    os.replace(tmp, path)
    return frame


def _failure(op: str, e: Exception) -> str:
    return f"{op}: {type(e).__name__}: {str(e)[:300]}"


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> dict:
    """The highest percentile, up to p90, with at least ten samples
    beyond it; ``None`` below twenty samples, where that percentile
    would sit at or below the median."""
    n = len(values)
    if n < 20:
        return {"q": None, "value": None, "n": n}
    q = min(0.9, 1 - 10 / n)
    return {"q": round(q, 4), "value": quantile(values, q), "n": n}


class Client:
    """One benchmark client bound to a session, the registry and the
    tracing hooks (all no-ops unless tracing is on)."""

    def __init__(self, spark, queries, data_dir, rng, cpu, tracer=None,
                 memo=None):
        self.spark = spark
        self.queries = queries
        self.data_dir = data_dir
        self.rng = rng
        self.cpu = cpu  # () -> CPU seconds used so far by the engine
        self.tracer = tracer
        self.memo = memo
        self.plan_ms: dict[str, float] = {}

    def span(self, name: str, op: str):
        return self.tracer.span(name, op) if self.tracer else nullcontext()

    def begin(self, op: str, label: str) -> None:
        if self.tracer:
            self.spark.sparkContext.setJobGroup(op, label)
            self.memo.op = op

    def end(self) -> None:
        if self.tracer:
            self.spark.sparkContext.setJobGroup("", "")
            self.memo.op = None

    def invoke(self, name: str, op: str, collect: bool):
        """One operation: the registry call, planning and execution to
        a ``noop`` sink, or to the driver when ``collect``."""
        self.begin(op, name)
        try:
            with self.span("operation", op):
                with self.span("registry.call", op):
                    df = self.queries[name](self.spark, self.data_dir)
                if self.tracer:
                    with self.span("operators.plan", op):
                        self.plan_ms[op] = plan_ms(df)
                with self.span("execute", op):
                    if collect:
                        return df.toPandas()
                    df.write.format("noop").mode("overwrite").save()
                    return None
        finally:
            self.end()


def run_queries(client: Client, names: list[str], seconds: float,
                oracle_sql: dict[str, str], cache_dir: str,
                on_warm_start=None) -> Result:
    """Cold pass, untimed warm-up passes, warm passes for ``seconds``,
    then the gate.

    The cold pass collects each result to the driver, as a first call
    by a user would; the gate compares those results with DuckDB after
    the timed part.  Warm invocations execute to a ``noop`` sink.  The
    seed shuffles the order of every timed pass.
    """
    ops: dict[str, dict] = {}
    failures: list[str] = []
    frames = {}
    order = list(names)
    client.rng.shuffle(order)
    c0 = client.cpu()
    t0 = now()
    for name in order:
        op = f"cold:{name}"
        a = now()
        try:
            frames[name] = client.invoke(name, op, collect=True)
        except Exception as e:  # counted in failed_ratio, run continues
            failures.append(_failure(op, e))
        ops[op] = {"name": name, "phase": "cold", "s": now() - a}
    cold_pass_s = now() - t0
    cold_cpu_s = client.cpu() - c0

    ok = [n for n in names if n in frames]
    attempted = len(names)
    for p in range(WARMUP_PASSES):
        for name in ok:
            attempted += 1
            try:
                client.invoke(name, f"warmup{p}:{name}", collect=False)
            except Exception as e:
                failures.append(_failure(f"warmup{p}:{name}", e))
    if on_warm_start:
        on_warm_start()

    passes: list[float] = []
    pass_cpu: list[float] = []
    lat: list[float] = []
    by_name: dict[str, list[float]] = {n: [] for n in ok}
    start = now()
    while now() - start < seconds or not passes:
        order = list(ok)
        client.rng.shuffle(order)
        c = client.cpu()
        a = now()
        for name in order:
            op = f"warm{len(passes)}:{name}"
            b = now()
            attempted += 1
            try:
                client.invoke(name, op, collect=False)
            except Exception as e:
                failures.append(_failure(op, e))
                continue
            dt = now() - b
            lat.append(dt)
            by_name[name].append(dt)
            ops[op] = {"name": name, "phase": "warm", "s": dt}
        passes.append(now() - a)
        pass_cpu.append(client.cpu() - c)

    for name in ok:
        want = expected(oracle_sql[name], client.data_dir, cache_dir)
        errs = compare(Collected(frames[name]), want, name=name)
        if errs:
            failures.append(f"gate {'; '.join(errs)[:300]}")
    # A warm pass assembled from each query's median, so one slow pass
    # does not set the figure.
    warm_pass_s = sum(statistics.median(v) for v in by_name.values() if v)
    return Result(cold_pass_s=cold_pass_s, cold_cpu_s=cold_cpu_s,
                  warm_pass_s=warm_pass_s,
                  warm_cpu_s=statistics.median(pass_cpu),
                  warm_latencies=lat, attempted=attempted,
                  failed=len(failures), failures=failures, ops=ops,
                  extra={"warm_passes": len(passes),
                         "warm_pass_wall_s": passes})


def _scan_new_files(wh_dir: str, seen: set) -> tuple[int, int, int]:
    """Files, bytes and rows the sink added since the last scan."""
    files = rows = nbytes = 0
    for f in sorted(glob.glob(os.path.join(wh_dir, "*.parquet"))):
        if f in seen:
            continue
        seen.add(f)
        files += 1
        nbytes += os.path.getsize(f)
        rows += pq.ParquetFile(f).metadata.num_rows
    return files, nbytes, rows


READBACK_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(32,6))) AS DOUBLE) AS total
FROM read_parquet('{wh}/*.parquet') GROUP BY event_type
"""


def run_etl(client: Client, seconds: float, run_dir: str, seed: int,
            phases=None) -> Result:
    """The cold tick, untimed warm-up ticks, then ticks until
    ``seconds`` have passed (and the replay tick ran)."""
    from pyspark.sql import functions as F

    from etl_dados_ibge_sp_spark.operators.aggregate import dsum
    from etl_dados_ibge_sp_spark.sources.parquet_source import load_table
    from etl_dados_ibge_sp_spark.streaming.windowed import \
        streaming_incremental_load

    spark = client.spark
    events_path = os.path.join(client.data_dir, "events.parquet")
    gen = EtlBatches(pq.read_table(events_path), seed, ETL_FRESH_ROWS)
    schema = spark.read.parquet(events_path).schema
    land = os.path.join(run_dir, "land")
    wh_parent = os.path.join(run_dir, "wh")
    wh = os.path.join(wh_parent, "warehouse.parquet")
    ckpt = os.path.join(run_dir, "checkpoint")
    os.makedirs(land)
    os.makedirs(wh_parent)

    seen: set = set()
    ops: dict[str, dict] = {}
    failures: list[str] = []
    ticks: list[dict] = []
    attempted = 0

    def readback(op):
        client.begin(op, "readback")
        try:
            with client.span("readback", op):
                df = load_table(spark, wh_parent, "warehouse")
                return df.groupBy("event_type").agg(
                    F.count(F.lit(1)).alias("n"),
                    dsum("value").alias("total")).toPandas()
        finally:
            client.end()

    def tick(i):
        nonlocal attempted
        _, rows = gen.land(i, land)
        op = f"tick{i}"
        runs_before = len(phases.runs) if phases else 0
        client.begin(op, "tick")
        attempted += 2
        c = client.cpu()
        a = now()
        try:
            with client.span("tick", op):
                streaming_incremental_load(spark, land, schema, wh, ckpt)
        except Exception as e:
            failures.append(_failure(op, e))
            return None
        finally:
            client.end()
        tick_s = now() - a
        files, nbytes, appended = _scan_new_files(wh, seen)
        b = now()
        try:
            result = readback(f"readback{i}")
        except Exception as e:
            failures.append(_failure(f"readback{i}", e))
            return None
        rec = {"i": i, "rows": rows, "tick_s": tick_s,
               "readback_s": now() - b, "cpu_s": client.cpu() - c,
               "files": files, "bytes": nbytes,
               "appended": appended, "readback": result,
               **(phases.collect(runs_before) if phases
                  else {"runs": [], "progress": []})}
        ticks.append(rec)
        phase = ("cold" if i == 0 else
                 "warmup" if i <= ETL_WARMUP_TICKS else "warm")
        rec["phase"] = phase
        ops[op] = {"name": "tick", "phase": phase, "s": tick_s}
        ops[f"readback{i}"] = {"name": "readback", "phase": phase,
                               "s": rec["readback_s"]}
        return rec

    for i in range(ETL_WARMUP_TICKS + 1):
        tick(i)
    i = ETL_WARMUP_TICKS + 1
    start = now()
    while now() - start < seconds or i <= gen.replay_at:
        tick(i)
        i += 1

    cold = [t for t in ticks if t["phase"] == "cold"]
    warm = [t for t in ticks if t["phase"] == "warm"]
    cycle = [t["tick_s"] + t["readback_s"] for t in warm]
    lat = [t["tick_s"] for t in warm]

    con = duckdb.connect()
    try:
        landed = con.execute(
            f"SELECT COUNT(DISTINCT event_id) FROM "
            f"read_parquet('{land}/*.parquet')").fetchone()[0]
        total, distinct = con.execute(
            f"SELECT COUNT(*), COUNT(DISTINCT event_id) FROM "
            f"read_parquet('{wh}/*.parquet')").fetchone()
        missing = con.execute(
            f"SELECT COUNT(*) FROM (SELECT event_id FROM "
            f"read_parquet('{land}/*.parquet') EXCEPT SELECT event_id FROM "
            f"read_parquet('{wh}/*.parquet'))").fetchone()[0]
        want = con.execute(READBACK_SQL.format(wh=wh)).fetchdf()
    finally:
        con.close()
    if total != distinct:
        failures.append(f"gate: {total - distinct} duplicate warehouse keys")
    if distinct != landed or missing:
        failures.append(f"gate: warehouse has {distinct} keys, landed "
                        f"{landed}, {missing} landed keys missing")
    replay = [t for t in ticks if t["i"] == gen.replay_at]
    if not replay or replay[0]["appended"] != 0:
        failures.append("gate: replay tick appended rows or did not run")
    if ticks:
        errs = compare(Collected(ticks[-1]["readback"]), want,
                       name="readback")
        if errs:
            failures.append(f"gate {'; '.join(errs)[:300]}")

    wh_bytes = sum(os.path.getsize(f)
                   for f in glob.glob(os.path.join(wh, "*.parquet")))
    extra = {
        "ticks": len(ticks), "replay_at": gen.replay_at,
        "resend_share": round(gen.resend_share, 4),
        "load_rows_per_s": sum(t["rows"] for t in warm)
        / max(sum(lat), 1e-9),
        "readback_p50_s": statistics.median(
            [t["readback_s"] for t in warm]),
        "warehouse_bytes_per_row": wh_bytes / max(distinct, 1),
        "batch_p50_s": statistics.median(lat),
        "batch_tail": tail(lat),
    }
    for t in ticks:
        t.pop("readback")
    return Result(cold_pass_s=sum(t["tick_s"] + t["readback_s"]
                                  for t in cold),
                  cold_cpu_s=sum(t["cpu_s"] for t in cold),
                  warm_pass_s=statistics.median(cycle),
                  warm_cpu_s=statistics.median(t["cpu_s"] for t in warm),
                  warm_latencies=lat, attempted=attempted,
                  failed=len(failures), failures=failures, ops=ops,
                  extra={**extra, "tick_records": ticks})
