"""Technical-indicator library (SURVEY.md §2.5, W2–W8).

The reference computes each indicator imperatively over the last N prices of a
per-symbol ``deque(maxlen=1000)`` (reference analytics/technical_indicators.py:
229-252).  Semantically each one is a sliding window function over rows
ordered by time, partitioned by symbol — windows count ROWS, not time.  Two
implementations, cross-checked in tests/test_indicators.py:

1. **Dual-dialect SQL** (``plans/indicator_parity.py``): the oracle-checked
   path behind W2–W9, ``w_all_indicators``, T6 and J3.  One SQL text runs on
   Spark and DuckDB with sequential list folds, so both engines give
   bit-identical doubles.

2. **Grouped-map pandas path** (this module): one linear pass per symbol.
   Its kernel is ``indicator_arrays`` (prices in, one array per indicator
   out); ``indicator_frame`` sorts a symbol's ticks, runs it and appends the
   columns; ``indicators_apply_in_pandas`` runs that per symbol via
   ``applyInPandas`` (the ``flagship`` query), and the streaming stateful
   handler runs the kernel directly on the buffered + new prices.

Exact reference semantics reproduced (documented quirks, SURVEY §7.3):
  * RSI uses a SIMPLE mean of the last ``period`` deltas, not Wilder
    smoothing, and returns exactly 100.0 when the average loss is 0
    (technical_indicators.py:81-92).
  * Bollinger/volatility use POPULATION std (numpy ``std`` ddof=0,
    technical_indicators.py:146-152,195).
  * EMA is seeded at the FIRST price of the visible buffer and recursed over
    the whole buffer, so its value depends on buffer length — buffer =
    last ``BUFFER_SIZE`` (=1000) rows (technical_indicators.py:124-130).
  * Volatility computes returns over the WHOLE buffer, then takes the std of
    all of them; only the null-gate uses ``period`` (technical_indicators.py:
    192-196).
  * MACD's signal line equals the MACD line ("simplified" in the reference,
    technical_indicators.py:176), so the histogram is exactly 0.
  * Null gates: each indicator is NULL until the buffer holds its minimum row
    count (period; period+1 for RSI/volatility; slow+signal=35 for MACD).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

# Reference CACHE_SIZE (shared/config.py:135): per-symbol deque maxlen.
BUFFER_SIZE = 1000

# Default periods (technical_indicators.py class defaults; shared/config.py).
RSI_PERIOD = 14
SMA_FAST, SMA_SLOW = 20, 50
EMA_FAST, EMA_SLOW = 12, 26
BB_PERIOD, BB_STDDEV = 20, 2.0
MACD_FAST, MACD_SLOW, MACD_SIGNAL = 12, 26, 9
VOL_PERIOD = 20
TRADING_DAYS = 252

# The indicator columns every path emits, in output order (ema_12/ema_26
# in their documented slot after sma_50).
IND_COLS = [
    "rsi_14", "sma_20", "sma_50", "ema_12", "ema_26",
    "bb_upper", "bb_lower", "bb_middle",
    "macd", "macd_signal", "macd_histogram",
    "volatility", "price_change_percent",
]


@dataclass(frozen=True)
class SeriesSpec:
    """Identifies the per-symbol ordered series the indicators run over."""

    key: str = "company_id"
    ts: str = "trade_datetime"
    tiebreak: str = "tick_id"
    price: str = "current_price"


def ema_series(prices: np.ndarray, period: int, buffer: int = BUFFER_SIZE) -> np.ndarray:
    """Per-row seeded EMA over the trailing ``min(i+1, buffer)`` prices.

    For rows inside the first buffer this is the plain reference recursion.
    Once the deque saturates, each row's EMA is an exact weighted sum over the
    trailing ``buffer`` prices (seed weight (1-m)^(B-1), then m*(1-m)^(B-1-j)),
    computed as a sliding dot product — O(n·B) flops, vectorized.
    """
    n = len(prices)
    m = 2.0 / (period + 1.0)
    out = np.empty(n, dtype=np.float64)
    head = min(n, buffer)
    ema = float(prices[0])
    out[0] = ema
    for i in range(1, head):
        ema = float(prices[i]) * m + ema * (1.0 - m)
        out[i] = ema
    if n > buffer:
        weights = np.empty(buffer, dtype=np.float64)
        decay = (1.0 - m) ** np.arange(buffer - 1, -1, -1, dtype=np.float64)
        weights[:] = m * decay
        weights[0] = decay[0]  # seed keeps full weight
        windows = np.lib.stride_tricks.sliding_window_view(prices, buffer)
        out[buffer:] = windows[1:] @ weights
    out[: period - 1] = np.nan
    return out


def indicator_arrays(prices: np.ndarray) -> dict[str, np.ndarray]:
    """Every indicator of ONE symbol's prices, in time order: one float64
    array per ``IND_COLS`` name, aligned with ``prices``."""
    p = np.asarray(prices, dtype=np.float64)
    n = len(p)
    idx = np.arange(1, n + 1)
    buflen = np.minimum(idx, BUFFER_SIZE)

    def gate(arr: np.ndarray, min_len: int) -> np.ndarray:
        out = arr.copy()
        out[buflen < min_len] = np.nan
        return out

    s = pd.Series(p)
    sma20 = gate(s.rolling(SMA_FAST, min_periods=1).mean().to_numpy(), SMA_FAST)
    sma50 = gate(s.rolling(SMA_SLOW, min_periods=1).mean().to_numpy(), SMA_SLOW)

    delta = np.diff(p, prepend=np.nan)
    gains = pd.Series(np.where(delta > 0, delta, 0.0))
    losses = pd.Series(np.where(delta < 0, -delta, 0.0))
    # First row's delta is undefined: exclude it from the mean like the
    # SQL path does (its collected deltas skip NULL) by not counting it.
    gains.iloc[0] = np.nan
    losses.iloc[0] = np.nan
    avg_gain = gains.rolling(RSI_PERIOD, min_periods=1).mean().to_numpy()
    avg_loss = losses.rolling(RSI_PERIOD, min_periods=1).mean().to_numpy()
    with np.errstate(divide="ignore", invalid="ignore"):
        rsi = np.where(
            avg_loss == 0.0, 100.0, 100.0 - 100.0 / (1.0 + avg_gain / avg_loss)
        )
    rsi = gate(rsi, RSI_PERIOD + 1)

    bb_mid = s.rolling(BB_PERIOD, min_periods=1).mean().to_numpy()
    bb_std = s.rolling(BB_PERIOD, min_periods=1).std(ddof=0).to_numpy()
    bb_upper = gate(bb_mid + BB_STDDEV * bb_std, BB_PERIOD)
    bb_lower = gate(bb_mid - BB_STDDEV * bb_std, BB_PERIOD)
    bb_middle = gate(bb_mid, BB_PERIOD)

    ema12 = gate(ema_series(p, EMA_FAST), EMA_FAST)
    ema26 = gate(ema_series(p, EMA_SLOW), EMA_SLOW)
    macd = gate(ema_series(p, MACD_FAST) - ema_series(p, MACD_SLOW), MACD_SLOW + MACD_SIGNAL)

    prev = np.concatenate([[np.nan], p[:-1]])
    rets = pd.Series((p - prev) / prev)
    vol = rets.rolling(BUFFER_SIZE - 1, min_periods=1).std(ddof=0).to_numpy() * math.sqrt(
        TRADING_DAYS
    )
    vol = gate(vol, VOL_PERIOD + 1)

    pct = (p - prev) / prev * 100.0

    return {
        "rsi_14": rsi,
        "sma_20": sma20,
        "sma_50": sma50,
        "ema_12": ema12,
        "ema_26": ema26,
        "bb_upper": bb_upper,
        "bb_lower": bb_lower,
        "bb_middle": bb_middle,
        "macd": macd,
        "macd_signal": macd,
        "macd_histogram": np.where(np.isnan(macd), np.nan, 0.0),
        "volatility": vol,
        "price_change_percent": pct,
    }


def indicator_frame(pdf: pd.DataFrame, spec: SeriesSpec) -> pd.DataFrame:
    """Compute all indicators for ONE symbol's ticks (already sorted input not
    required — sorts by (ts, tiebreak)): ``pdf`` in that order with the
    ``IND_COLS`` appended.  Cross-checked against the SQL path in
    tests/test_indicators.py.
    """
    pdf = pdf.sort_values([spec.ts, spec.tiebreak], kind="mergesort").reset_index(drop=True)
    ind = indicator_arrays(pdf[spec.price].to_numpy(dtype=np.float64))
    return pd.concat([pdf, pd.DataFrame(ind)], axis=1)


def indicators_apply_in_pandas(df: DataFrame, spec: SeriesSpec | None = None) -> DataFrame:
    """Scale-path indicator computation: one Arrow batch per symbol, linear
    time, no O(buffer) per-row arrays.  Output schema = input + one double
    per ``IND_COLS`` name."""
    spec = spec or SeriesSpec()
    schema_parts = [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
    schema_parts += [f"`{c}` double" for c in IND_COLS]
    out_schema = ", ".join(schema_parts)
    # Pin the shuffle width: the grouped-map stage is CPU-bound per GROUP,
    # but its input is small in BYTES, so AQE would coalesce it to 2-3
    # partitions and serialize the per-symbol work (measured 6.8s → 2s at
    # sf0.1).  Same rationale as ml/regression.grouped_map_input; groupBy
    # reuses the pinned partitioning, so no second shuffle.
    parts = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(parts, spec.key)
        .groupBy(spec.key)
        .applyInPandas(lambda pdf: indicator_frame(pdf, spec), schema=out_schema)
    )
