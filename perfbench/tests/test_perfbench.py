"""Fast checks of the benchmark itself, at sf0.001 with a few operations.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    CONTRACT = json.load(_fh)
TINY_SET = ("a07_rollup", "q01_pricing_summary", "x17_quality_filter", "x45_split_token_budget")


@pytest.fixture()
def tiny(monkeypatch):
    """One set-up, two queries per family, small landing batches; the
    process state ``run.isolate`` changes is put back afterwards."""
    monkeypatch.setattr(run, "SETUPS", 1)
    monkeypatch.setattr(workloads, "QUERY_SET", TINY_SET)
    monkeypatch.setattr(workloads, "BATCH_ROWS", 300)
    env, path = dict(os.environ), list(sys.path)
    yield
    os.environ.clear()
    os.environ.update(env)
    sys.path[:] = path


def bench(capsys, workload: str, trace: int = 0) -> tuple[dict, str]:
    rc = run.main(["--workload", workload, "--seed", "7", "--seconds", "0", "--trace", str(trace)])
    out = capsys.readouterr().out
    assert rc == 0, out
    return json.loads(out.strip().splitlines()[-1]), out


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_every_metric_prints_with_its_unit(tiny, capsys, workload):
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        result, out = bench(capsys, workload, trace)
        assert result["correct"] and result["failed"] == 0, out
        assert result["attempted"] >= 2  # the priming pass and one measured pass
        want = {m["name"]: m["unit"] for m in CONTRACT[section]}
        assert {k: v["unit"] for k, v in result["metrics"].items()} == want
        for name, unit in want.items():
            assert f"  {name}: " in out and out.split(f"  {name}: ")[1].split("\n")[0].endswith(unit)
        assert "failed_ratio: 0.0 ratio" in out


def test_worker_side_queries_pass_outside_the_repo_root(tiny, capsys, monkeypatch):
    """These queries import ``etl_spark`` inside Spark's Python workers,
    which fails unless the workers get the package on their path; the
    run's cwd is its scratch directory, not the repository root."""
    names = (
        "x15_media_decode", "x72_incremental_knn_join", "x73_pq_adc_topk",
        "x95_image_neardup", "x99_media_resize", "x101_incremental_image_neardup",
        "x104_image_dup_clusters", "x128_ivfpq_delta_probe", "x132_ann_recall_at5",
        "x139_ann_recall_clustered",
    )
    monkeypatch.setattr(workloads, "QUERY_SET", names)
    result, out = bench(capsys, "queries")
    assert result["correct"] and result["attempted"] == 2 * len(names), out


def test_planted_wrong_result_raises_failed_ratio(tiny, capsys, monkeypatch):
    from etl_spark import registry

    spec = registry.all_specs()["a07_rollup"]
    def emptied(spark, sf_dir):
        return spec.fn(spark, sf_dir).filter("false")

    emptied.__module__ = spec.fn.__module__  # still an operators query
    wrong = dataclasses.replace(spec, fn=emptied)
    monkeypatch.setitem(registry._REGISTRY, "a07_rollup", wrong)
    result, out = bench(capsys, "queries")
    assert not result["correct"]
    assert result["failed"] == 2  # a07 in the priming and the measured pass, nothing else
    assert "a07_rollup: result differs from the DuckDB oracle" in out


def test_planted_failing_alert_raises_failed_ratio(tiny, capsys, monkeypatch):
    monkeypatch.setattr(workloads, "OVERSIZE_SQL", "SELECT order_id FROM bench_erp.missing")
    result, out = bench(capsys, "pipeline")
    assert not result["correct"]
    assert result["failed"] == result["attempted"]
    assert "alert 3 error" in out


def _tree(top: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, dirs, files in os.walk(top):
        dirs[:] = [d for d in dirs if os.path.join(root, d) not in (
            os.path.join(top, ".git"), BENCH)]
        for f in files:
            st = os.stat(os.path.join(root, f))
            out[os.path.join(root, f)] = (st.st_size, st.st_mtime_ns)
    return out


def test_run_writes_nothing_outside_the_benchmark():
    def work_dirs() -> set[str]:
        work = os.path.join(BENCH, ".work")
        return set(os.listdir(work)) if os.path.isdir(work) else set()

    before, runs_before = _tree(ROOT), work_dirs()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pipeline", "--seed", "3",
         "--seconds", "0", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1])["correct"]
    assert _tree(ROOT) == before
    assert work_dirs() <= runs_before  # its own scratch dir is gone too


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "queries", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert not proc.stdout.strip()
