"""The zone map, the file-level Bloom index and the streaming distinct
state are TxTables (sources/txlog.py): a rebuild or refresh is one log
commit, and a reader resolves a committed snapshot through the log. A
reader racing refreshes on another session never sees a missing or
half-written index, and no store keeps a hand-rolled directory swap.
"""

from __future__ import annotations

import threading
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import etl_spark
from etl_spark.sources.bloomindex import bloom_pruned_files, bloom_refresh
from etl_spark.sources.zonemap import pruned_files, zonemap_refresh

PKG = Path(etl_spark.__file__).parent


def test_stores_keep_no_directory_swap():
    for rel in ("sources/zonemap.py", "sources/bloomindex.py", "streaming/distinct.py"):
        src = (PKG / rel).read_text()
        for banned in ("os.rename(", ".bak", "base.tmp"):
            assert banned not in src, f"{rel} contains {banned!r}"


def _names(paths) -> frozenset[str]:
    return frozenset(p.rsplit("/", 1)[-1] for p in paths)


def test_reader_on_another_session_sees_whole_indexes(spark, tmp_path):
    """10 zone-map and 10 Bloom refreshes, each after one table file is
    added and another removed. A reader looping both probes on a
    second session gets no error; every answer is the file set of
    some committed version (the open range and a value every file
    holds keep every file), and its last answers are the newest."""
    table = tmp_path / "t"
    table.mkdir()
    made = iter(range(10_000))

    def _add() -> None:
        j = next(made)
        ks = [0] + list(range(j * 100 + 1, j * 100 + 100))  # 0 is in every file
        pq.write_table(pa.table({"k": pa.array(ks, pa.int64())}), str(table / f"f{j:04d}.parquet"))

    for _ in range(4):
        _add()
    zm, idx = str(tmp_path / "zm"), str(tmp_path / "bidx")
    zonemap_refresh(spark, str(table), ["k"], zm)
    bloom_refresh(spark, str(table), ["k"], idx)
    files = lambda: frozenset(p.name for p in table.iterdir())  # noqa: E731
    committed = {"zm": [files()], "bloom": [files()]}

    reader = spark.newSession()
    done = threading.Event()
    seen: dict[str, list] = {"zm": [], "bloom": []}
    errors: list[BaseException] = []

    def _probe() -> None:
        kept, total = pruned_files(reader, zm, "k", None, None)
        seen["zm"].append((_names(kept), total))
        kept, total = bloom_pruned_files(reader, idx, "k", 0)
        seen["bloom"].append((_names(kept), total))

    def _loop() -> None:
        try:
            while not done.is_set():
                _probe()
            _probe()  # after the last commit
        except BaseException as ex:  # noqa: BLE001 - reported below
            errors.append(ex)

    th = threading.Thread(target=_loop)
    th.start()
    try:
        for _ in range(10):
            for store, refresh, path in (
                ("zm", zonemap_refresh, zm),
                ("bloom", bloom_refresh, idx),
            ):
                _add()
                min(table.iterdir()).unlink()
                before, now = committed[store][-1], files()
                assert refresh(spark, str(table), ["k"], path) == (
                    len(now - before),
                    len(before - now),
                )
                committed[store].append(now)
    finally:
        done.set()
        th.join(300)
    assert not errors, errors[0]
    for store in ("zm", "bloom"):
        assert len(seen[store]) >= 2
        for kept, total in seen[store]:
            assert kept in committed[store] and total == len(kept), (store, kept)
        assert seen[store][-1][0] == committed[store][-1]
