"""One start path for every streaming sink: each public ``run_*`` in
etl_spark.streaming requires a checkpoint, starts through
``streaming.neardup.drain`` and has resolvable type hints; a sink that
persists a batch frame releases it when its write raises; and a
micro-batch runs within its sink's Spark-job budget.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import pkgutil
import typing
from pathlib import Path

import pytest

import etl_spark
import etl_spark.streaming

PKG = Path(etl_spark.__file__).parent


def _runners():
    for info in pkgutil.iter_modules(etl_spark.streaming.__path__):
        mod = importlib.import_module(f"etl_spark.streaming.{info.name}")
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if name.startswith("run_") and fn.__module__ == mod.__name__:
                yield f"{info.name}.{name}", fn


def _write_stream_sites():
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        spans = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.walk(ast.parse(src))
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for i, line in enumerate(src.splitlines(), 1):
            if ".writeStream" in line:
                owners = [s for s in spans if s[0] <= i <= s[1]]
                yield (
                    path.relative_to(PKG).as_posix(),
                    max(owners)[2] if owners else "<module>",
                )


def test_every_runner_requires_a_checkpoint():
    runners = dict(_runners())
    assert "monitor.run_threshold_monitor" in runners and len(runners) >= 18
    for name, fn in runners.items():
        params = inspect.signature(fn).parameters
        # the availableNow trigger is fixed in drain, in any spelling
        knobs = [p for p in params if p.replace("_", "").lower() == "availablenow"]
        assert not knobs, f"{name} takes a trigger option {knobs}"
        ck = params.get("checkpoint")
        assert ck is not None, f"{name} takes no checkpoint"
        assert ck.default is inspect.Parameter.empty, f"{name} defaults its checkpoint"


def test_every_runner_has_resolvable_type_hints():
    for name, fn in _runners():
        try:
            typing.get_type_hints(fn)
        except NameError as ex:
            pytest.fail(f"{name}: {ex}")


def test_write_stream_only_inside_drain():
    assert set(_write_stream_sites()) == {("streaming/neardup.py", "drain")}


def test_decontam_gate_releases_its_cache_when_a_write_raises(
    spark, sf_dir, tmp_path
):
    """The quarantine path is a regular file, so the batch's first
    write raises after the scored frame was persisted; the query fails
    and the cache manager must hold nothing afterwards."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import StreamingQueryException
    from pyspark.sql import functions as F

    from etl_spark.extensions.pipeline import EVAL_SOURCE
    from etl_spark.streaming.selection import build_benchmark_index, run_decontam_gate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = str(tmp_path / "bench_idx")
    build_benchmark_index(docs.filter(F.col("source") == EVAL_SOURCE), idx)
    train = docs.filter(F.col("source") != EVAL_SOURCE)
    in_dir = tmp_path / "dc_in"
    in_dir.mkdir()
    pq.write_table(
        pa.Table.from_pandas(train.toPandas()), str(in_dir / "part-0.parquet")
    )
    quar = tmp_path / "quar"
    quar.write_text("a file where the quarantine directory should be")

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache.isEmpty()
    q = run_decontam_gate(
        spark.readStream.schema(train.schema).parquet(str(in_dir)),
        idx,
        str(tmp_path / "clean"),
        str(quar),
        checkpoint=str(tmp_path / "ck"),
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    assert cache.isEmpty()
    assert not (tmp_path / "clean" / "batch-0").exists()


def _job_ids(spark) -> list[int]:
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)  # a Scala Seq
    return [jobs.apply(i).jobId() for i in range(jobs.size())]


def _jobs_for_one_drain(spark, start) -> int:
    """Spark jobs run by ``start()``'s drain, from the status store."""
    before = max(_job_ids(spark), default=-1)
    start().awaitTermination(120)
    return sum(1 for j in _job_ids(spark) if j > before)


def test_decontam_gate_jobs_per_batch(spark, sf_dir, tmp_path):
    """Both outputs are counted on their own writes, over the persisted
    verdicts: one file, one batch, at most 11 jobs (13 with two
    separate ``count()``s before the writes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from etl_spark.extensions.pipeline import EVAL_SOURCE
    from etl_spark.streaming.selection import build_benchmark_index, run_decontam_gate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = str(tmp_path / "bench_idx")
    build_benchmark_index(docs.filter(F.col("source") == EVAL_SOURCE), idx)
    train = docs.filter(F.col("source") != EVAL_SOURCE)
    in_dir = tmp_path / "dc_in"
    in_dir.mkdir()
    pq.write_table(pa.Table.from_pandas(train.toPandas()), str(in_dir / "part-0.parquet"))
    calls = []
    n_jobs = _jobs_for_one_drain(spark, lambda: run_decontam_gate(
        spark.readStream.schema(train.schema).parquet(str(in_dir)),
        idx,
        str(tmp_path / "clean"),
        str(tmp_path / "quar"),
        checkpoint=str(tmp_path / "ck"),
        on_batch=lambda b, n_in, n_bad: calls.append((n_in, n_bad)),
    ))
    n_bad = spark.read.parquet(str(tmp_path / "quar" / "batch-0")).count()
    assert calls == [(train.count(), n_bad)]
    assert n_jobs <= 11, n_jobs


@pytest.mark.parametrize("runner", ["run_distinct_ingest", "run_hll_ingest"])
def test_distinct_ingest_counts_the_batch_on_its_write(spark, sf_dir, tmp_path, runner):
    """``on_batch``'s row count is observed on the delta write: one
    file, one batch, 3 jobs (4 with a separate ``count()``)."""
    import pyarrow.parquet as pq

    from etl_spark.streaming import distinct

    events = spark.read.parquet(f"{sf_dir}/events.parquet").select("ts", "user_id")
    in_dir = tmp_path / "ev_in"
    in_dir.mkdir()
    pq.write_table(events.toArrow(), str(in_dir / "part-0.parquet"))
    seen = []
    n_jobs = _jobs_for_one_drain(spark, lambda: getattr(distinct, runner)(
        spark.readStream.schema(events.schema).parquet(str(in_dir)),
        str(tmp_path / "state"),
        checkpoint=str(tmp_path / "ck"),
        on_batch=lambda bid, n: seen.append((bid, n)),
    ))
    assert seen == [(0, events.count())]
    assert n_jobs <= 3, n_jobs


def test_scd2_sink_counts_the_dimension_on_its_write(spark, tmp_path):
    """``on_batch``'s dimension row count is observed on the
    ``overwrite_once`` write: one file, one batch, at most 8 jobs (11
    with a persist and a separate ``count()`` before the write)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_spark.streaming.sinks import run_scd2_sink

    in_dir = tmp_path / "scd_in"
    in_dir.mkdir()
    pq.write_table(
        pa.table(
            {
                "cust": pa.array([1, 2, 2], pa.int64()),
                "segment": pa.array(["gold", "silver", "bronze"]),
                "ts": pa.array(
                    [dt.datetime(2024, 1, d) for d in (1, 1, 2)], pa.timestamp("us")
                ),
            }
        ),
        str(in_dir / "part-0.parquet"),
    )
    seen = []
    n_jobs = _jobs_for_one_drain(spark, lambda: run_scd2_sink(
        spark.readStream.schema("cust LONG, segment STRING, ts TIMESTAMP").parquet(
            str(in_dir)
        ),
        str(tmp_path / "dim"),
        ["cust"],
        "ts",
        checkpoint=str(tmp_path / "ck"),
        on_batch=lambda bid, n: seen.append((bid, n)),
    ))
    assert seen == [(0, 2)]  # latest observation per key
    assert n_jobs <= 8, n_jobs
