"""Steadiness and tracing-overhead check of the benchmark.

    python3 perfbench/steady.py

Runs every workload of BENCHMARK.json once per seed in SEEDS untraced,
and on the first TRACED seeds traced as well, and writes the report to
``perfbench/provenance.json``. Per end-to-end metric it reports the ten values,
their median, and the distance between the first and third quartile
(``statistics.quantiles(n=4)``) as a share of the median, next to the
metric's bound from BENCHMARK.json. The tracing overhead is the traced
median minus the untraced median of each end-to-end metric over the
traced seeds.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = list(range(1, 11))
TRACED = 3


def bench(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    """One run; returns (result JSON, its printed ``name: value`` lines, elapsed s)."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    elapsed = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    printed = {}
    for line in lines[:-1]:
        key, _, rest = line.strip().partition(": ")
        printed[key] = rest
    return json.loads(lines[-1]), printed, elapsed


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def fixtures() -> dict[str, str]:
    """sha256 of every committed fixture file, so the inputs can be traced."""
    top = os.path.join(HERE, "fixtures")
    out = {}
    for root, _, files in os.walk(top):
        for f in sorted(files):
            path = os.path.join(root, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, ROOT)] = hashlib.sha256(fh.read()).hexdigest()
    return dict(sorted(out.items()))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        contract = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in contract["end_to_end"]}
    with open("/proc/loadavg") as fh:
        report = {"loadavg_before": " ".join(fh.read().split()[:3]),
                  "nproc": len(os.sched_getaffinity(0)),
                  "run_seconds": contract["run_seconds"],
                  "why": {w["name"]: w["why"] for w in contract["workloads"]},
                  "fixtures_sha256": fixtures(),
                  "workloads": {}}
    for w in (w["name"] for w in contract["workloads"]):
        untraced, traced, elapsed, failures = {}, {}, [], 0
        for i, seed in enumerate(SEEDS):
            result, facts, secs = bench(w, seed, contract["run_seconds"], 0)
            elapsed.append(secs)
            failures += result["failed"]
            for k, m in result["metrics"].items():
                untraced.setdefault(k, []).append(m["value"])
            if i < TRACED:
                result, printed, secs = bench(w, seed, contract["run_seconds"], 1)
                failures += result["failed"]
                for k in bounds:
                    traced.setdefault(k, []).append(float(printed[k].split()[0]))
        row = {"seeds": SEEDS, "failed": failures,
               "run_elapsed_s_median": statistics.median(elapsed),
               "last_run": {k: facts[k] for k in facts if k not in bounds},
               "metrics": {}}
        for k, vals in untraced.items():
            med = statistics.median(vals)
            base = statistics.median(vals[:TRACED]) if traced else None
            row["metrics"][k] = {
                "median": med,
                "spread": spread(vals),
                "bound": bounds[k],
                "within_third_of_bound": spread(vals) < bounds[k] / 3,
                "tracing_overhead": statistics.median(traced[k]) - base if traced else None,
                "values": vals,
            }
        report["workloads"][w] = row
        print(w, json.dumps({k: (round(v["spread"], 4), v["bound"]) for k, v in row["metrics"].items()}),
              f"failed={failures}", flush=True)
        with open("/proc/loadavg") as fh:
            report["loadavg_after"] = " ".join(fh.read().split()[:3])
        with open(os.path.join(HERE, "provenance.json"), "w") as fh:
            json.dump(report, fh, indent=1)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
