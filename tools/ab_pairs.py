"""Interleaved A/B of the repository benchmark: a base checkout against
this tree.

    python3 tools/ab_pairs.py --workload pipeline --seeds 31-40 --base DIR

For each seed it runs the benchmark command from BENCHMARK.json
(``perfbench/run.py … --trace 0`` at the file's ``run_seconds``) once
in DIR and once in this tree, alternating which side runs first, and
reads each run's last stdout line as JSON. It prints every pair's
end-to-end metrics with each run's load average before and after (so
a pair measured on a busy host shows), each side's median and
quartiles, the change's win count (ties count for neither side) and
failed/attempted per side, then whether a gain would be claimable:
wins on at least nine tenths of the pairs and a median gap wider than
the base's interquartile range. It also prints a no-regression
verdict per metric against that metric's ``bound`` (see ``verdict``).
Stdlib only; it imports no engine code.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOAD_KEYS = ("loadavg_before", "loadavg_after")


def parse_seeds(text: str) -> list[int]:
    """``31-40`` or ``31,35,40`` (or a mix: ``31-33,40``)."""
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(tree: str, command: list[str], workload: str, seed: int, seconds: float) -> dict:
    """One benchmark run in ``tree``; returns its last JSON line plus
    the ``loadavg_before``/``loadavg_after`` lines it printed, or
    ``{"error": ...}`` when the run printed no JSON line."""
    args = [*command, "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(args, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        tail = (proc.stderr or proc.stdout).strip().splitlines()[-3:]
        return {"error": f"exit {proc.returncode}: {' | '.join(tail)}"}
    for line in lines:
        key, _, value = line.strip().partition(": ")
        if key in LOAD_KEYS:
            result[key] = value
    return result


def spread(values: list[float]) -> tuple[float, float, float]:
    """(first quartile, median, third quartile)."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def verdict(base: list[float], change: list[float], better: str, bound: float) -> str:
    """No-regression verdict for one metric: ``worse`` when the
    change's median is worse than the base median by more than
    ``bound`` x base median; ``unresolved`` when the base's
    interquartile range is wider than that margin and not every change
    run beats every base run; ``within bound`` otherwise."""
    sign = 1 if better == "lower" else -1
    bq1, bmed, bq3 = spread(base)
    margin = bound * abs(bmed)
    if sign * (spread(change)[1] - bmed) > margin:
        return "worse"
    beats_all = all(sign * (b - c) > 0 for b in base for c in change)
    if bq3 - bq1 > margin and not beats_all:
        return "unresolved"
    return "within bound"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds, help="e.g. 31-40 or 31,35")
    ap.add_argument("--base", required=True, help="checkout of the base commit")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = {m["name"]: m["better"] for m in bench["end_to_end"]}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    sides = {"base": os.path.abspath(args.base), "change": ROOT}

    runs: dict[str, list[dict]] = {"base": [], "change": []}
    for i, seed in enumerate(args.seeds):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            runs[side].append(
                run_once(sides[side], bench["command"], args.workload, seed, bench["run_seconds"])
            )
        cells = []
        for side in ("base", "change"):
            r = runs[side][-1]
            if "error" in r:
                cells.append(f"{side} ERROR {r['error']}")
            else:
                vals = " ".join(f"{k}={r['metrics'][k]['value']:.4g}" for k in metrics)
                load = " ".join(f"{k}=[{r.get(k, '?')}]" for k in LOAD_KEYS)
                cells.append(f"{side} {vals} failed={r['failed']}/{r['attempted']} {load}")
        print(f"seed {seed} ({order[0]} first): " + "; ".join(cells), flush=True)

    ok = [
        (b, c) for b, c in zip(runs["base"], runs["change"])
        if "error" not in b and "error" not in c
    ]
    print(f"\nworkload {args.workload}: {len(ok)} complete pairs of {len(args.seeds)}")
    for side, i in (("base", 0), ("change", 1)):
        failed = sum(p[i]["failed"] for p in ok)
        attempted = sum(p[i]["attempted"] for p in ok)
        print(f"  {side} failed/attempted: {failed}/{attempted}")
    if not ok:
        return 1
    for name, better in metrics.items():
        base = [b["metrics"][name]["value"] for b, _ in ok]
        change = [c["metrics"][name]["value"] for _, c in ok]
        sign = 1 if better == "lower" else -1
        wins = sum(sign * (b - c) > 0 for b, c in zip(base, change))
        bq1, bmed, bq3 = spread(base)
        cq1, cmed, cq3 = spread(change)
        gain = sign * (bmed - cmed)
        claim = wins >= 0.9 * len(ok) and gain > bq3 - bq1
        print(
            f"  {name} ({better} is better): base median {bmed:.4g} [{bq1:.4g}, {bq3:.4g}]"
            f"  change median {cmed:.4g} [{cq1:.4g}, {cq3:.4g}]"
            f"  change/base {cmed / bmed:.3f}  wins {wins}/{len(ok)}"
            f"  gain claimable: {'yes' if claim else 'no'}"
            f"  no-regression (bound {bounds[name]}): "
            f"{verdict(base, change, better, bounds[name])}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
