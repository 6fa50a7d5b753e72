"""Cross-checks of the two indicator implementations:

  1. parity SQL path        — plans.indicator_parity (oracle-checked)
  2. linear pandas path     — operators.indicators.indicators_apply_in_pandas

(2) must agree with (1) within float tolerance (it uses pandas rolling
windows, the parity path uses sequential folds and r6 rounding).
Also verifies reference quirks directly on hand-built series.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from real_time_stock_market_data_pipeline_spark.operators import indicators as ind
from real_time_stock_market_data_pipeline_spark.operators.relational import (
    valid_tick_predicate,
)
from real_time_stock_market_data_pipeline_spark.plans.queries import TICK_SPEC
from real_time_stock_market_data_pipeline_spark.sources.readers import (
    ticks_from_events,
)

def _sorted_pdf(df):
    pdf = df.toPandas().sort_values(["company_id", "trade_datetime", "tick_id"])
    return pdf.reset_index(drop=True)


@pytest.fixture(scope="module")
def two_ways(spark, sf_dir):
    ticks = ticks_from_events(spark, sf_dir).filter(valid_tick_predicate())
    from real_time_stock_market_data_pipeline_spark.plans.queries import QUERIES

    parity = _sorted_pdf(QUERIES["w_all_indicators"](spark, sf_dir))
    pandas_path = _sorted_pdf(ind.indicators_apply_in_pandas(ticks, TICK_SPEC))
    return parity, pandas_path


@pytest.mark.parametrize("col", ind.IND_COLS)
def test_pandas_path_matches_parity(two_ways, col):
    parity, pp = two_ways
    a = pp[col].to_numpy(dtype=float)
    b = parity[col].to_numpy(dtype=float)
    assert len(a) == len(b) > 0
    # parity path rounds to 6 decimals (r6); allow half that granularity
    assert np.allclose(a, b, rtol=0, atol=6e-7, equal_nan=True), col


def test_reference_quirks_on_known_series():
    """Hand-checkable series: monotonically rising prices."""
    n = 60
    pdf = pd.DataFrame({
        "tick_id": np.arange(n),
        "company_id": "X",
        "trade_datetime": pd.Timestamp("2024-01-01") + pd.to_timedelta(np.arange(n), "min"),
        "current_price": 100.0 + np.arange(n),
        "volume": 10,
    })
    out = ind.indicator_frame(pdf, TICK_SPEC)

    # Rising series: no losses → RSI exactly 100 once gated (rn>=15)
    assert out.loc[: 13, "rsi_14"].isna().all()
    assert (out.loc[14:, "rsi_14"] == 100.0).all()
    # SMA20 of linear ramp = price - 9.5
    assert math.isclose(out.loc[19, "sma_20"], (100 + 19) - 9.5)
    # null gates
    assert out.loc[: 18, "sma_20"].isna().all()
    assert out.loc[: 48, "sma_50"].isna().all()
    assert out.loc[: 33, "macd"].isna().all()
    # MACD signal == line, histogram == 0 (reference "simplified" semantics)
    assert (out.loc[34:, "macd_signal"] == out.loc[34:, "macd"]).all()
    assert (out.loc[34:, "macd_histogram"] == 0.0).all()
    # EMA seeded at first buffer element: row 11 (rn=12) EMA != SMA
    ema = 100.0
    for i in range(1, 12):
        ema = (100.0 + i) * (2 / 13) + ema * (1 - 2 / 13)
    assert math.isclose(out.loc[11, "ema_12"], ema, rel_tol=1e-12)


def test_ema_series_saturated_buffer_matches_recursion():
    """Past the deque cap the sliding-dot EMA must equal brute recursion."""
    rng = np.random.default_rng(42)
    prices = 100 + np.cumsum(rng.normal(0, 1, 1500))
    fast = ind.ema_series(prices, 12, buffer=200)

    def brute(i):
        window = prices[max(0, i - 199) : i + 1]
        m = 2.0 / 13.0
        e = window[0]
        for x in window[1:]:
            e = x * m + e * (1 - m)
        return e

    for i in [0, 5, 150, 199, 200, 500, 1499]:
        if i < 11:
            assert np.isnan(fast[i])
        else:
            assert math.isclose(fast[i], brute(i), rel_tol=1e-9), i


def test_w13_slice_matches_w12(spark):
    """w13 (all-pairs, top-3 per symbol) restricted to w12's query symbol
    must reproduce w12's (top-10) head exactly — same neighbours, same
    n_common, same rounded distance, same order.  Pins that the
    date-bucketed self-join generalization didn't drift from the
    broadcast single-query formulation it grew out of."""
    from real_time_stock_market_data_pipeline_spark.plans import QUERIES

    sf = "/root/testdata/sf0.001"
    w12 = QUERIES["w12_series_similarity"](spark, sf).collect()
    qid = min(
        r.company_id for r in QUERIES["w13_series_all_pairs"](spark, sf).collect()
    )
    w13 = [
        r
        for r in QUERIES["w13_series_all_pairs"](spark, sf).collect()
        if r.company_id == qid
    ]
    w13.sort(key=lambda r: r.rnk)
    assert len(w13) == 3 and len(w12) >= 3
    for got, want in zip(w13, w12[:3]):
        assert got.neighbor_id == want.company_id
        assert got.n_common == want.n_common
        assert got.mean_sq_dist == want.mean_sq_dist


def test_w14_finds_planted_twin_rejects_near_miss(spark):
    """w14 end-to-end on a hand-planted corpus: an exact duplicate series
    under a DIFFERENT symbol id is recovered through the banded join at
    sketch distance 0 (alongside the query's own in-plan offset twins —
    4 identical series → all 6 pairs), while a 2-days-flipped near-miss
    becomes a banded CANDIDATE (hamming 2 ≤ 3) but is rejected by the
    exact verify stage (msd > 0) — banding recalls, verification
    decides."""
    from real_time_stock_market_data_pipeline_spark.plans.indicator_parity import (
        W14_TWIN_OFFSET,
        sql_series_banded_neardup,
    )

    rows = []
    tid = 0
    for day in range(20):
        up = day % 2 == 0
        for comp, flip in ((1, False), (2, day in (2, 6)), (3, False)):
            sign = (1 if up else -1) * (-1 if flip else 1)
            price = 100.0 + 10.0 * sign
            tid += 1
            rows.append(
                (tid, comp, "purchase",
                 f"2024-03-{day + 1:02d} 12:00:00", price, '{"k": 5}')
            )
    df = spark.createDataFrame(
        rows,
        "event_id LONG, user_id LONG, event_type STRING, ts_s STRING, "
        "value DOUBLE, props STRING",
    ).selectExpr("event_id", "user_id", "event_type",
                 "CAST(ts_s AS TIMESTAMP) AS ts", "value", "props")
    df.createOrReplaceTempView("events")
    got = {
        (r.sym_a, r.sym_b): r
        for r in spark.sql(sql_series_banded_neardup("spark")).collect()
    }
    o = W14_TWIN_OFFSET
    expected = {
        (1, 3), (1, 1 + o), (1, 3 + o), (3, 1 + o), (3, 3 + o),
        (1 + o, 3 + o), (2, 2 + o),
    }
    assert set(got) == expected
    for pair, r in got.items():
        assert r.mean_sq_dist == 0.0 and r.hamming == 0 and r.n_common == 20
    # the near-miss never reaches the output even though its sketch is
    # within the banded-candidate budget
    assert (1, 2) not in got and (2, 3) not in got
