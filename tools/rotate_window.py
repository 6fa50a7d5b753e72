"""Rewrite the query registration order (``_PRIORITY`` in
``plans/__init__.py``) from the committed ``CORRECTNESS_rNN.json`` files.

The correctness gate checks queries in registration order and records
rows for the first 50 only, so the order decides which queries get fresh
evidence.  Each query sorts on the newest round in which it has a green
row (0 if none), then on its position in that round's file.  Queries with
no green row lead in registration order, then the stalest evidence.

Usage: python tools/rotate_window.py
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "real_time_stock_market_data_pipeline_spark"
PLANS_INIT = os.path.join(ROOT, PACKAGE, "plans", "__init__.py")
_LITERAL = re.compile(r"^_PRIORITY = \[\n.*?^\]\n", re.DOTALL | re.MULTILINE)


def _green(row) -> bool:
    return bool(
        isinstance(row, dict)
        and row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match", True)
        and not row.get("err")
    )


def window_order(names: list[str], root: str) -> list[str]:
    """``names`` sorted on (newest green round, position in that round's
    file); names without a green row keep their order in ``names``."""
    key = {name: (0, i) for i, name in enumerate(names)}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as f:
            rows = json.load(f)
        for pos, (name, row) in enumerate(rows.items()):
            if name in key and _green(row) and rnd > key[name][0]:
                key[name] = (rnd, pos)
    return sorted(names, key=key.__getitem__)


def _registered() -> list[str]:
    sys.path.insert(0, ROOT)
    try:
        from real_time_stock_market_data_pipeline_spark.plans import QUERIES
    except AssertionError:
        # a query was added or removed since the last rotation: the
        # package's import-time check failed after every query registered
        QUERIES = sys.modules[f"{PACKAGE}.plans.queries"].QUERIES
    return list(QUERIES)


def render(order: list[str]) -> str:
    """The ``_PRIORITY`` literal: names packed into lines of ≤ 79 chars."""
    items = textwrap.fill(
        " ".join(f'"{name}",' for name in order), 79,
        initial_indent="    ", subsequent_indent="    ",
    )
    return f"_PRIORITY = [\n{items}\n]\n"


def main() -> None:
    with open(PLANS_INIT) as f:
        source = f.read()
    order = window_order(_registered(), ROOT)
    new, n = _LITERAL.subn(lambda _m: render(order), source)
    if n != 1:
        raise SystemExit(f"{PLANS_INIT}: no single _PRIORITY literal")
    if new != source:
        with open(PLANS_INIT, "w") as f:
            f.write(new)
    print(f"{len(order)} queries; window: {', '.join(order[:50])}")


if __name__ == "__main__":
    main()
