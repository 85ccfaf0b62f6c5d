"""The repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The queries read the fixture tables
under ``perfbench/fixtures/``; the seed orders the query passes and
generates the pipeline's landing batches. Everything the run writes
goes under ``perfbench/.work/`` (removed on exit). It sets up the
engine several times, measures the whole passes that S seconds buy
(see ``workloads.PASS_S``), checks every output, and prints the
metrics; the last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see BENCHMARK.json and perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("queries", "pipeline")
SF_DIR = os.path.join(HERE, "fixtures", "sf0.001")
SETUPS = 3
CORES = len(os.sched_getaffinity(0))

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
}
PER_LAYER = {
    "spark.peak_rss_mb": "MB",
    "operators.build_s": "s/op",
    "extensions.build_s": "s/op",
    "extensions.build_jobs": "jobs/op",
    "spark.plan_s": "s/op",
    "spark.collect_s": "s/op",
    "spark.jobs": "jobs/op",
    "spark.stages": "stages/op",
    "spark.tasks": "tasks/op",
    "spark.shuffle_write_bytes": "B/op",
    "spark.spill_bytes": "B/op",
    "spark.task_run_s": "s/op",
    "spark.core_busy_ratio": "ratio",
    "spark.persisted_rdds_leaked": "rdds/op",
    "registry.conf_keys_changed": "keys/op",
    "sources.ingest_s": "s/op",
    "sql_runner.run_script_s": "s/op",
    "alerting.check_export_s": "s/op",
    "alerting.check_count_s": "s/op",
    "orchestrator.overhead_s": "s/op",
    "orchestrator.task_logs_files": "files",
}


def isolate(work: str) -> None:
    """Make the engine importable here and in Spark's Python workers, and
    keep every file the run writes under ``work``."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.chdir(work)


def spark_conf(work: str) -> dict[str, str]:
    """Only where the JVM writes; memory and collector stay the program's."""
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        # -UsePerfData: no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def set_up(work: str):
    """Session and registry: what a user waits for before the first
    query. Returns (spark, seconds)."""
    t0 = time.perf_counter()
    from etl_spark.registry import all_specs
    from etl_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{CORES}]", extra_conf=spark_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    all_specs()
    return spark, time.perf_counter() - t0


def peak_rss_mb(spark) -> float:
    """High-water resident set of the driver JVM plus this Python process."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total_kb = 0
    for pid in (jvm_pid, "self"):
        with open(f"/proc/{pid}/status") as fh:
            total_kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return total_kb / 1024


def op_latencies(workload: str, per_op: dict[str, list[float]], busy: float) -> tuple[list[float], float]:
    """The latencies the percentiles are taken over, and ops per second.

    On ``pipeline`` every tick is the same operation: the ticks are the
    samples, and the rate is ticks per second of loop time. On ``queries``
    the samples of one query cluster and the queries lie far apart, so a
    percentile of the pooled samples would sit on the edge of one query's
    cluster and jump with its repeats. There each query counts once, at
    its fastest time in the run, and the rate is that of a pass at those
    times: noise on a shared machine only ever slows an operation, and
    the first passes after priming are still warming up, so a query's
    fastest repeat is its steadiest measure.
    """
    if not per_op:  # every op failed: the run is not correct anyway
        return [0.0], 0.0
    if workload == "pipeline":
        ticks = per_op["tick"]
        return ticks, len(ticks) / busy
    fastest = [min(v) for v in per_op.values()]
    return fastest, len(fastest) / sum(fastest)


def tail(latencies: list[float]) -> str:
    """The highest whole percentile with at least ten samples beyond it."""
    n = len(latencies)
    pct = 100 * (n - 10) // n if n > 10 else 0
    if pct < 1:
        return f"no percentile has 10 samples beyond it ({n} samples)"
    value = statistics.quantiles(latencies, n=100, method="inclusive")[pct - 1]
    return f"p{pct} {value} s ({n} samples)"


def loadavg() -> str:
    with open("/proc/loadavg") as fh:
        return " ".join(fh.read().split()[:3])


def measure(workload: str, seed: int, seconds: float, trace: bool, work: str) -> tuple:
    """Set up SETUPS times, then drive the workload on the last session.
    Returns (run, facts, end-to-end metrics, per-layer metrics or None,
    the figures printed but not bounded)."""
    from tracing import Trace
    from workloads import Run, drive, task_logs_files

    spark, setups = None, []
    try:
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, seconds_i = set_up(work)
            setups.append(seconds_i)
        tr = Trace(spark, trace)
        run = Run(spark, SF_DIR, work, tr)
        facts = drive(workload, run, seed, seconds)
        run.check_oracles()
        samples = run.samples()
        lat, per_s = op_latencies(workload, run.latencies, facts["wall_s"] - run.aside_s)
        e2e = {
            # a session is not ready before its warm-up: work moved into
            # the priming pass shows here, not as faster passes
            "setup_s": statistics.median(setups) + facts["prime_s"],
            "op_p50_s": statistics.median(lat),
            "ops_per_s": per_s,
        }
        # A run has 2-18 samples: a p90 over them is its slowest one or
        # two, and rows per second is ops per second times a constant, so
        # these are printed and not bounded. So is the resident set, which
        # follows the collector's heap sizing as much as the program.
        shown = {
            "op_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[-1]
            if len(lat) > 1 else lat[0],
            "rows_per_s": per_s * run.rows / len(samples) if samples else 0.0,
            "peak_rss_mb": peak_rss_mb(spark),
        }
        layers = {key: tr.mean(key) for key in PER_LAYER}
        layers["spark.peak_rss_mb"] = shown["peak_rss_mb"]
        layers["spark.core_busy_ratio"] = tr.core_busy_ratio()
        layers["orchestrator.task_logs_files"] = task_logs_files(work)
        import pyspark

        facts.update(
            spark=pyspark.__version__, cores=CORES, fixtures=os.path.relpath(SF_DIR, ROOT),
            samples=len(samples), setups_s=setups, errors=run.errors,
        )
        return run, facts, e2e, layers if trace else None, shown
    finally:
        if spark is not None:
            spark.stop()
            stop_jvm()


def stop_jvm() -> None:
    """End the JVM that pyspark launched and wait for it: the gateway
    exits when its stdin closes. A later session launches a new one."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etl_spark", "__init__.py")):
        print(f"perfbench: no etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    load_before = loadavg()
    cwd = os.getcwd()
    try:
        isolate(work)
        run, facts, e2e, layers, shown = measure(
            args.workload, args.seed, args.seconds, bool(args.trace), work
        )
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    facts.update(loadavg_before=load_before, loadavg_after=loadavg())
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    for key, value in facts.items():
        print(f"  {key}: {value}")
    ratio = run.failed / run.attempted
    print(f"  failed_ratio: {ratio} ratio ({run.failed}/{run.attempted})")
    # an op is a query on the query workloads and a tick on pipeline
    kind = "cycle" if args.workload == "pipeline" else "query"
    print(f"  {kind}_p50_s: {e2e['op_p50_s']} s")
    print(f"  {kind}_p90_s: {shown['op_p90_s']} s")
    if kind == "query":
        print(f"  queries_per_s: {e2e['ops_per_s']} 1/s")
    print(f"  rows_per_s: {shown['rows_per_s']} 1/s")
    print(f"  peak_rss_mb: {shown['peak_rss_mb']} MB")
    print(f"  {kind}_tail: {tail(run.samples())}")
    # a traced run prints its end-to-end figures too: their difference
    # from an untraced run is the tracing overhead
    units = {**END_TO_END, **PER_LAYER}
    for name, value in {**e2e, **(layers or {})}.items():
        print(f"  {name}: {value} {units[name]}")
    metrics = layers if layers is not None else e2e
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
