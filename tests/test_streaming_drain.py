"""One start path for every streaming sink: each public ``run_*`` in
etl_spark.streaming requires a checkpoint and starts through
``streaming.neardup.drain``, and a sink that persists a batch frame
releases it when its write raises.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import pkgutil
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


def test_write_stream_only_inside_drain():
    assert set(_write_stream_sites()) == {("streaming/neardup.py", "drain")}


def test_decontam_gate_releases_its_cache_when_a_write_raises(
    spark, sf_dir, tmp_path
):
    """The quarantine path is a regular file, so the batch's first
    write raises after the scored frame was persisted and counted; the
    query fails and the cache manager must hold nothing afterwards."""
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
