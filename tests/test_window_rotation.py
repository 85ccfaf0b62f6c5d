"""Driver-window rotation is an INVARIANT, not a comment (VERDICT r6
"Next round" #3): round 6 burned its entire hard-signal budget
re-verifying the identical 50 queries as round 5 while 15 oracle-backed
queries (x56-x70) had never had a driver row and the actually-broken
x62/x64 sat outside the window.

The window is derived, not maintained: ``registry.all_specs()`` orders
queries by (``oracle is None``, last driver round from the committed
CORRECTNESS_r*.json snapshots, registration order), so committing a
snapshot rotates it with no source edit. These tests replay the
committed snapshots against that order and fail on the failure modes
round 6 exhibited:

1. a window slot spent on an ``oracle=None`` query (its rows-only
   check is a permanent weak signal — the slot is pure waste);
2. staleness inversion — some query OUTSIDE the window is strictly
   staler (older last driver row, or never checked at all) than some
   query inside it, i.e. the window is not oldest-first;
3. window reuse — the current window's exact key set already produced
   two committed snapshots (the r5==r6 sin): a window must rotate
   after one snapshot.

Snapshots whose key set equals the current window are EXCLUDED from
the staleness computation: the window for round N is chosen from
knowledge of rounds < N, and the snapshot it itself produces at
round-N verify must not retroactively invalidate it.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil

from etl_spark.registry import all_specs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WINDOW_SIZE = 50  # the driver snapshots the first 50 registered queries


def _snapshot_paths() -> list[tuple[int, str]]:
    out = []
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.match(r"CORRECTNESS_r(\d+)\.json$", os.path.basename(path))
        if m:
            out.append((int(m.group(1)), path))
    return out


def _snapshots() -> list[tuple[int, set[str]]]:
    out = []
    for rnd, path in _snapshot_paths():
        with open(path) as fh:
            d = json.load(fh)
        out.append((rnd, set(d.get("queries", d))))
    return out


def _window_and_rest() -> tuple[list[str], list[str]]:
    names = list(all_specs())
    return names[:WINDOW_SIZE], names[WINDOW_SIZE:]


def test_no_rows_only_query_occupies_a_window_slot():
    specs = all_specs()
    window, _ = _window_and_rest()
    wasted = [n for n in window if specs[n].oracle is None]
    assert not wasted, (
        f"oracle=None queries occupy driver-window slots: {wasted} — their "
        f"rows-only check never upgrades, so the hard-signal slot is wasted "
        f"(VERDICT r5/r6); move them past position {WINDOW_SIZE}"
    )


def test_window_is_oldest_first():
    """No query outside the window may be strictly staler than any
    inside it (never-checked counts as infinitely stale)."""
    specs = all_specs()
    window, rest = _window_and_rest()
    wset = set(window)
    last: dict[str, int] = {}
    for rnd, keys in _snapshots():
        if keys == wset:
            continue  # produced by the current window — see module doc
        for k in keys:
            last[k] = max(last.get(k, -1), rnd)
    stale = lambda n: last.get(n, -1)  # noqa: E731
    inside = [n for n in window if specs[n].oracle is not None]
    outside = [n for n in rest if specs[n].oracle is not None]
    if not inside or not outside:
        return
    max_in = max(inside, key=stale)
    min_out = min(outside, key=stale)
    assert stale(min_out) >= stale(max_in), (
        f"staleness inversion: {min_out} (last driver row "
        f"r{stale(min_out)}, -1 = never) is outside the window while "
        f"{max_in} (r{stale(max_in)}) holds a slot — registry.all_specs() "
        f"must order the window oldest-first"
    )


def test_window_rotates_after_one_snapshot():
    """The exact key set the current window produces may appear in at
    most ONE committed snapshot. Two (r5==r6) means a round's entire
    hard-signal budget re-verified already-green rows."""
    window, _ = _window_and_rest()
    wset = set(window)
    produced = [rnd for rnd, keys in _snapshots() if keys == wset]
    assert len(produced) <= 1, (
        f"the current driver window already produced snapshots "
        f"{produced} — it must rotate before the next round runs"
    )


def test_committed_snapshot_rotates_window(tmp_path, monkeypatch):
    """Committing the snapshot the current window produces moves every
    query it checked out of the next window, with no source edit."""
    from etl_spark import registry

    committed = _snapshot_paths()
    for _, path in committed:
        shutil.copy(path, tmp_path)
    monkeypatch.setattr(registry, "SNAPSHOT_DIR", str(tmp_path))
    window, _ = _window_and_rest()
    nxt = max(rnd for rnd, _ in committed) + 1
    with open(tmp_path / f"CORRECTNESS_r{nxt}.json", "w") as fh:
        json.dump({n: {"hash_match": True} for n in window}, fh)

    specs = all_specs()
    rotated = list(specs)[:WINDOW_SIZE]
    assert not set(rotated) & set(window), f"r{nxt}-checked queries kept a slot"
    assert all(specs[n].oracle is not None for n in rotated)


def test_no_snapshots_falls_back_to_registration_order(tmp_path, monkeypatch):
    from etl_spark import registry

    monkeypatch.setattr(registry, "SNAPSHOT_DIR", str(tmp_path))
    specs = all_specs()
    registered = list(registry._REGISTRY)
    assert list(specs) == (
        [n for n in registered if specs[n].oracle is not None]
        + [n for n in registered if specs[n].oracle is None]
    )
