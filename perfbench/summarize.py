#!/usr/bin/env python3
"""Steadiness evidence for the benchmark.

    python3 perfbench/summarize.py --seeds 1-10 --trace-seeds 1-3 \
        --out perfbench/baseline.json

Runs ``run.py`` once per (seed, workload), seeds in the outer loop so
host drift spreads over all workloads, first untraced and then traced.
For every end-to-end metric it records the values, median, quartiles
(``statistics.quantiles(values, n=4)``) and spread, the inter-quartile
range as a share of the median, next to the bound in BENCHMARK.json.
Traced runs give the per-layer medians and the tracing overhead: the
traced median of each end-to-end metric minus the untraced median.
Per operation it also records the median cold and warm seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{cmd} exited {proc.returncode}:\n"
                           f"{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")
    return {"wall_s": wall, "detail": json.loads(lines[-2])["detail"],
            "result": json.loads(lines[-1])}


def stats(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None,
            "values": values}


def summarize(runs: list[dict], traced: list[dict], bounds: dict) -> dict:
    e2e = {}
    for name in runs[0]["detail"]["metrics"]:
        s = stats([r["detail"]["metrics"][name]["value"] for r in runs])
        s["bound"] = bounds.get(name)
        e2e[name] = s
    out = {"runs": len(runs), "end_to_end": e2e,
           "wall_s": stats([r["wall_s"] for r in runs]),
           "warm_samples": [r["detail"]["warm_samples"] for r in runs],
           "warm_tail_s": [r["detail"]["warm_tail_s"] for r in runs],
           "host": runs[0]["detail"]["host"]}
    names = runs[0]["detail"]["ops"]
    out["ops"] = {
        n: {k: statistics.median(r["detail"]["ops"][n][k] for r in runs)
            for k in ("cold_s", "warm_median_s")}
        for n in names}
    if traced:
        out["traced_runs"] = len(traced)
        out["per_layer_median"] = {
            name: statistics.median(
                t["result"]["metrics"][name]["value"] for t in traced)
            for name in traced[0]["result"]["metrics"]}
        out["tracing_overhead"] = {
            name: statistics.median(t["detail"]["metrics"][name]["value"]
                                    for t in traced)
            - e2e[name]["median"] for name in e2e}
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workloads", nargs="+")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace-seeds", default="")
    p.add_argument("--out", required=True)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    plain = {w: [] for w in workloads}
    traced = {w: [] for w in workloads}
    for trace, spec, sink in ((0, args.seeds, plain),
                              (1, args.trace_seeds, traced)):
        for seed in seeds(spec) if spec else []:
            for w in workloads:
                r = run(w, seed, bench["run_seconds"], trace)
                sink[w].append(r)
                print(w, seed, trace, round(r["wall_s"], 1),
                      {k: round(v["value"], 4) for k, v in
                       r["result"]["metrics"].items()
                       if k in bounds}, file=sys.stderr, flush=True)
    report = {"run_seconds": bench["run_seconds"],
              "workloads": {w: summarize(plain[w], traced[w], bounds)
                            for w in workloads if plain[w]}}
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    worst = {w: max((m["spread"], n) for n, m in r["end_to_end"].items()
                    if n in bounds and n != "setup_s")
             for w, r in report["workloads"].items()}
    print(json.dumps(worst))
    return 0


if __name__ == "__main__":
    sys.exit(main())
