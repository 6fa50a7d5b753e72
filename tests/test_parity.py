"""Mimics the driver's correctness gate: every oracle-backed query must match
its DuckDB twin exactly (row count, columns, values) at sf0.001."""

from __future__ import annotations

import pytest

from real_time_stock_market_data_pipeline_spark.plans import ORACLES, QUERIES
from real_time_stock_market_data_pipeline_spark.plans.parity import (
    check_query,
    duck_connection,
)


@pytest.fixture(scope="module")
def duck(sf_dir):
    return duck_connection(sf_dir)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    res = check_query(name, QUERIES[name](spark, sf_dir), ORACLES[name], duck)
    assert res.ok, f"{name}: {res.errors}"


def test_every_query_has_an_oracle():
    # check_query has no rows-only fallback: every query is compared
    # against its DuckDB oracle, and every oracle names a query
    assert set(QUERIES) == set(ORACLES)


def test_registration_order_matches_rotate_window():
    """The correctness gate records rows for the first 50 registrations
    only, so every position of the registration order is pinned to the
    order ``tools/rotate_window.py`` derives from the committed
    CORRECTNESS files.  A new CORRECTNESS file or query fails this until
    the tool has rewritten ``_PRIORITY``."""
    import os

    from tools.rotate_window import window_order

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert list(QUERIES) == window_order(list(QUERIES), root)


def test_window_rotation_never_starves_a_query():
    """The AUTOMATED form of the rotation policy (the r11 verdict flagged
    the window as growing hand-maintained state): the driver's 50-row
    window must contain (a) every query with no green driver row yet and
    (b) only queries whose newest green evidence is no FRESHER than any
    query left outside — i.e. no query outside the window has strictly
    older evidence than one inside.  The pinned-order test above checks
    the round's exact plan; this one checks the POLICY, so a future
    rotation that silently starves a query fails even if someone updates
    the pin to match it."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    newest: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        try:
            rows = json.load(open(f))
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            green = (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match", True)
                and not row.get("err")
            )
            if green and name in QUERIES:
                newest[name] = max(newest.get(name, 0), rnd)
    if not newest:
        pytest.skip("no driver CORRECTNESS artifacts present")
    names = list(QUERIES)
    window, outside = names[:50], names[50:]
    never_rowed = [n for n in names if n not in newest]
    assert all(n in window for n in never_rowed), (
        f"queries with no driver evidence left outside the window: "
        f"{[n for n in never_rowed if n not in window]}"
    )
    rowed_in = [newest[n] for n in window if n in newest]
    missing_outside = [n for n in outside if n not in newest]
    assert not missing_outside  # outside queries must all carry evidence
    if rowed_in and outside:
        assert max(rowed_in) <= min(newest[n] for n in outside), (
            "a query outside the window has strictly older evidence than "
            "one inside — the rotation is starving it"
        )
