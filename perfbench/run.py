#!/usr/bin/env python3
"""Benchmark of the Spark engine in this repository.

    python3 perfbench/run.py --workload curation_cold --seed 1 --seconds 10 \
        --trace 0

Runs on the fixed tables in ``data/sf0.01``; ``--seed`` picks the order
of every query pass and the etl_incremental batches.  Every scratch
file a run writes goes under ``.perfbench/`` at the repository root.
It sets up a session ``SETUP_SAMPLES`` times (all but the last in a
child process that stops right after), runs the workload (see
``workloads.py``) on the last one and checks its results against
DuckDB.  The last line of stdout is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``,
the end-to-end metrics with ``--trace 0`` or the per-layer metrics
with ``--trace 1``.  The line before it, ``{"detail": ...}``, records
the host, sample counts, tail percentiles, per-operation cold/warm
times and, with tracing on, the end-to-end figures of the traced run.
The exit code is 0 only when every operation succeeded and the gate
passed.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_dados_ibge_sp_spark"
WORKLOADS = ("curation_cold", "etl_incremental")
MAX_CORES = 4
# Session set-ups per run; setup_s is their median.
SETUP_SAMPLES = 3
# End-to-end metrics on the result line (BENCHMARK.json "end_to_end").
GATED = ("setup_s", "cold_cpu_s", "warm_cpu_s")


def vm_hwm_mb(pid="self") -> float:
    """Peak resident set size of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _proc_cpu_s(pid: int, children: bool) -> float:
    """utime + stime (+ reaped children's) of a process, in seconds."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_seconds(jvm_pid: int) -> float:
    """CPU time used so far by this process, the JVM and the Python
    workers under it."""
    t = os.times()
    return (t.user + t.system + _proc_cpu_s(jvm_pid, False)
            + sum(_proc_cpu_s(p, True) for p in descendants(jvm_pid)))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it
    started, and wait until each process has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    _wait_gone(workers, 10.0)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Internal: set up a session, print the set-up time, stop.
    p.add_argument("--setup-only", action="store_true",
                   help=argparse.SUPPRESS)
    return p.parse_args(argv)


def setup(cores: int, conf: dict):
    """Session start, registry import, session tuning: the set-up a
    user of the engine pays before the first operation."""
    t0 = time.perf_counter()
    from etl_dados_ibge_sp_spark import session
    spark = session.get_spark(app_name="perfbench", master=f"local[{cores}]",
                              extra_conf=conf)
    from etl_dados_ibge_sp_spark import registry
    queries = registry.all_queries()
    oracle_sql = registry.all_oracle_sql()
    session.tune_for_oracle(spark)
    return spark, queries, oracle_sql, time.perf_counter() - t0


def setup_in_child(argv: list[str]) -> float:
    """Set-up time of a fresh process, which stops once set up."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *argv, "--setup-only"],
        cwd=ROOT, capture_output=True, text=True, timeout=120)
    if proc.returncode != 0:
        raise RuntimeError(f"set-up child exited {proc.returncode}: "
                           f"{proc.stderr[-2000:]}")
    return float(proc.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    spec = importlib.util.find_spec(PACKAGE)
    if spec is None or not spec.origin.startswith(ROOT + os.sep):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(work, "tmp")
    runs = os.path.join(work, "runs")
    if args.setup_only:  # a child of a run: share its scratch directory
        tmp = os.path.join(tmp, f"setup-{os.getpid()}")
    else:
        for d in (tmp, runs):  # scratch of an earlier run
            shutil.rmtree(d, ignore_errors=True)
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}")
    for d in (tmp, run_dir, os.path.join(work, "out")):
        os.makedirs(d, exist_ok=True)
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark"),
        "SPARK_GRAFT_CPUS": str(cores),
    })
    tempfile.tempdir = None

    import datagen
    data_dir = datagen.DATA_DIR

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
    }
    if args.setup_only:
        spark, _, _, setup_s = setup(cores, conf)
        stop_spark(spark)
        print(repr(setup_s))
        return 0

    log_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false"})

    child_argv = ["--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds)]
    setup_samples = [setup_in_child(child_argv)
                     for _ in range(SETUP_SAMPLES - 1)]
    spark, queries, oracle_sql, last = setup(cores, conf)
    setup_samples.append(last)
    setup_s = statistics.median(setup_samples)
    spark_version = spark.version

    tracer = memo = phases = None
    try:
        import layers
        import workloads
        from etl_dados_ibge_sp_spark import session
        from tracing import MemoCounter, StreamPhases, Tracer

        spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            tracer, memo, phases = Tracer(), MemoCounter(), StreamPhases()
            memo.install(session)
            spark.streams.addListener(phases)
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        jvm_pid = spark.sparkContext._gateway.proc.pid
        client = workloads.Client(spark, queries, data_dir,
                                  random.Random(args.seed),
                                  lambda: cpu_seconds(jvm_pid), tracer, memo)
        if args.workload == "etl_incremental":
            res = workloads.run_etl(client, args.seconds, run_dir, args.seed,
                                    phases)
        else:
            res = workloads.run_queries(
                client, workloads.CURATION_COLD, args.seconds, oracle_sql,
                os.path.join(work, "expected"),
                on_warm_start=spark.profile.clear if args.trace else None)
        state = layers.session_state(spark) if args.trace else {}
        peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb()
    finally:
        if memo:
            memo.uninstall(session)
        stop_spark(spark)

    # Every end-to-end figure, with its unit.  The result line carries
    # the GATED ones; the wall-clock passes are reported in the detail
    # line only, because on a shared 4-vCPU host their run-to-run spread
    # is too wide to gate on (see README.md).
    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (res.cold_pass_s, "s"),
        "warm_pass_s": (res.warm_pass_s, "s"),
        "warm_p50_s": (statistics.median(res.warm_latencies), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "failed_ratio": (res.failed / res.attempted, "ratio"),
        "cold_cpu_s": (res.cold_cpu_s, "s"),
        "warm_cpu_s": (res.warm_cpu_s, "s"),
    }
    e2e = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "setup_samples_s": setup_samples,
        "host": {
            "nproc": len(os.sched_getaffinity(0)), "local_n": cores,
            "spark": spark_version,
            "pyarrow": _version("pyarrow"), "duckdb": _version("duckdb"),
            "python": platform.python_version(),
        },
        "metrics": e2e,
        "warm_samples": len(res.warm_latencies),
        "warm_tail_s": workloads.tail(res.warm_latencies),
        "ops": layers.cold_warm_pairs(res),
        "extra": {k: v for k, v in res.extra.items()
                  if k != "tick_records"},
        "failures": res.failures[:20],
    }
    if args.trace:
        metrics = layers.per_layer(args.workload, res, setup_s, state,
                                   client, memo, tracer, log_dir)
        out = os.path.join(work, "out",
                           f"{args.workload}-seed{args.seed}-trace.json")
        with open(out, "w") as fh:
            json.dump({"spans": tracer.spans,
                       "self_s": tracer.self_times()}, fh)
        detail["self_s"] = tracer.self_times()
        detail["spans_file"] = os.path.relpath(out, ROOT)
        metrics_out = {k: {"value": v, "unit": layers.UNITS[k]}
                       for k, v in metrics.items()}
    else:
        metrics_out = {k: e2e[k] for k in GATED}
    shutil.rmtree(run_dir, ignore_errors=True)

    correct = res.failed == 0
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics_out}))
    return 0 if correct else 1


def _version(module: str) -> str:
    return importlib.import_module(module).__version__


if __name__ == "__main__":
    sys.exit(main())
