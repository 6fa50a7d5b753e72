"""``tools/rotate_window.window_order`` on synthetic CORRECTNESS files: the
check-window order sorts on each query's newest green round, then on its
position in that round's file, with never-green queries first."""

from __future__ import annotations

import json
import os
import shutil

from real_time_stock_market_data_pipeline_spark.plans import QUERIES
from tools.rotate_window import window_order

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}


def _write(root, rnd: str, rows: dict) -> None:
    with open(os.path.join(root, f"CORRECTNESS_r{rnd}.json"), "w") as f:
        json.dump(rows, f)


def _keys(root, rnd: str) -> list[str]:
    with open(os.path.join(root, f"CORRECTNESS_r{rnd}.json")) as f:
        return list(json.load(f))


def test_next_round_leads_with_the_displaced_tail(tmp_path):
    """With the committed r01–r19 files plus an r20 green for the 50
    queries in today's window, the r17-green tail that sat past slot 50
    leads, the r18 block fills the window, and the r20 block goes last."""
    for n in range(1, 20):
        shutil.copy(os.path.join(ROOT, f"CORRECTNESS_r{n:02d}.json"), tmp_path)
    names = window_order(list(QUERIES), str(tmp_path))
    _write(tmp_path, "20", {name: GREEN for name in names[:50]})
    oldest, middle, newest = (_keys(tmp_path, r) for r in ("17", "18", "19"))
    got = window_order(names, str(tmp_path))
    assert got[:50] == oldest[24:] + middle[:24]
    assert got == oldest[24:] + middle + newest + names[:50]


def test_query_without_rows_goes_first(tmp_path):
    _write(tmp_path, "03", {"x": GREEN, "y": GREEN})
    assert window_order(["x", "new1", "y", "new2"], str(tmp_path)) == [
        "new1", "new2", "x", "y",
    ]


def test_hash_mismatch_or_error_is_not_evidence(tmp_path):
    _write(tmp_path, "01", {"a": GREEN, "b": GREEN, "c": GREEN})
    _write(tmp_path, "02", {
        "c": GREEN,
        "a": {**GREEN, "hash_match": False},
        "b": {**GREEN, "err": "boom"},
    })
    assert window_order(["c", "b", "a"], str(tmp_path)) == ["a", "b", "c"]


def test_rounds_sort_numerically(tmp_path):
    _write(tmp_path, "9", {"a": GREEN, "b": GREEN})
    _write(tmp_path, "10", {"a": GREEN})
    assert window_order(["a", "b"], str(tmp_path)) == ["b", "a"]
