"""Technical-indicator library (SURVEY.md §2.5, W2–W8).

The reference computes each indicator imperatively over the last N prices of a
per-symbol ``deque(maxlen=1000)`` (reference analytics/technical_indicators.py:
229-252).  Semantically each one is a sliding window function over rows
ordered by time, partitioned by symbol — windows count ROWS, not time.  Two
implementations, cross-checked in tests:

1. **Column/Window builders** (this module's ``*_col`` functions and
   ``with_indicators``): pure Spark SQL expressions — JVM-side, whole-stage
   codegen, no Python in the hot path.  EMA is the one indicator with no
   closed-form window aggregate (it is a seeded recursion over the visible
   buffer, reference technical_indicators.py:124-130); we express it with the
   ``aggregate`` higher-order function over a bounded ``collect_list`` frame.

2. **Grouped-map pandas path** (``indicators_apply_in_pandas``): one linear
   pass per symbol via ``applyInPandas`` — the scale path for very long
   per-symbol histories (the HOF EMA materializes an O(buffer) array per row).
   Its kernel is ``indicator_arrays`` (prices in, one array per indicator
   out); ``indicator_frame`` sorts a symbol's ticks, runs it and appends the
   columns, and the streaming stateful handler runs it directly on the
   buffered + new prices.

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
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

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

    def window(self) -> Window:
        return Window.partitionBy(self.key).orderBy(
            F.col(self.ts).asc(), F.col(self.tiebreak).asc()
        )


def _buflen(spec: SeriesSpec) -> Column:
    """Number of prices currently in the reference's bounded deque."""
    rn = F.row_number().over(spec.window())
    return F.least(rn, F.lit(BUFFER_SIZE))


def sma_col(spec: SeriesSpec, period: int) -> Column:
    w = spec.window().rowsBetween(-(period - 1), 0)
    gated = F.avg(spec.price).over(w)
    return F.when(_buflen(spec) >= period, gated)


def _ema_over_buffer(buf_col: str, period: int) -> Column:
    """Seeded recursion ema = x*m + ema*(1-m) over a collected buffer.

    The multiplier is written as ``CAST(2.0 AS DOUBLE)/CAST(p+1 AS DOUBLE)``
    — bare decimal literals are DECIMAL in Spark SQL (and DuckDB), and decimal
    division would silently truncate the multiplier to 6 digits.  With double
    ops throughout, IEEE-754 makes the fold bit-reproducible across engines
    given the same expression shape.
    """
    m = f"(CAST(2.0 AS DOUBLE) / CAST({period + 1}.0 AS DOUBLE))"
    return F.expr(
        f"aggregate(slice({buf_col}, 2, size({buf_col}) - 1), "
        f"cast(element_at({buf_col}, 1) as double), "
        f"(acc, x) -> x * {m} + acc * (CAST(1.0 AS DOUBLE) - {m}))"
    )


def rsi_col(spec: SeriesSpec, period: int = RSI_PERIOD) -> Column:
    """Simple-mean RSI over the last ``period`` deltas; 100.0 when avg loss=0."""
    w = spec.window()
    delta = F.col(spec.price) - F.lag(spec.price, 1).over(w)
    frame = w.rowsBetween(-(period - 1), 0)
    # Build over a projected delta: callers get a single Column, so inline it.
    gains = F.when(delta > 0, delta).otherwise(F.lit(0.0))
    losses = F.when(delta < 0, -delta).otherwise(F.lit(0.0))
    avg_gain = F.avg(gains).over(frame)
    avg_loss = F.avg(losses).over(frame)
    rsi = F.when(avg_loss == 0, F.lit(100.0)).otherwise(
        F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + avg_gain / avg_loss)
    )
    return F.when(_buflen(spec) >= period + 1, rsi)


def bollinger_cols(
    spec: SeriesSpec, period: int = BB_PERIOD, num_std: float = BB_STDDEV
) -> tuple[Column, Column, Column]:
    """(upper, lower, middle) with population std (numpy ddof=0)."""
    frame = spec.window().rowsBetween(-(period - 1), 0)
    mid = F.avg(spec.price).over(frame)
    std = F.stddev_pop(spec.price).over(frame)
    gate = _buflen(spec) >= period
    upper = F.when(gate, mid + F.lit(num_std) * std)
    lower = F.when(gate, mid - F.lit(num_std) * std)
    middle = F.when(gate, mid)
    return upper, lower, middle


def volatility_col(spec: SeriesSpec, period: int = VOL_PERIOD) -> Column:
    """Annualized population std of returns over the WHOLE visible buffer."""
    w = spec.window()
    prev = F.lag(spec.price, 1).over(w)
    ret = (F.col(spec.price) - prev) / prev
    # Last BUFFER_SIZE prices yield BUFFER_SIZE-1 returns; stddev skips the
    # NULL return on each partition's first row.
    frame = w.rowsBetween(-(BUFFER_SIZE - 2), 0)
    vol = F.stddev_pop(ret).over(frame) * F.lit(math.sqrt(TRADING_DAYS))
    return F.when(_buflen(spec) >= period + 1, vol)


def price_change_pct_col(spec: SeriesSpec) -> Column:
    """(p - prev)/prev * 100 from the last two ticks (W8,
    analytics/analytics_consumer.py:386-390)."""
    prev = F.lag(spec.price, 1).over(spec.window())
    return (F.col(spec.price) - prev) / prev * F.lit(100.0)


def with_indicators(df: DataFrame, spec: SeriesSpec | None = None) -> DataFrame:
    """Append the full indicator set as columns — the engine's equivalent of
    the reference's ``get_all_indicators`` (technical_indicators.py:320-347).

    One window partitioning (key, ordered by ts) serves every indicator, so
    the physical plan sorts each partition once and evaluates all frames in a
    single Window operator chain — no extra shuffles.
    """
    spec = spec or SeriesSpec()
    w = spec.window()
    buf_frame = w.rowsBetween(-(BUFFER_SIZE - 1), 0)
    buflen = _buflen(spec)

    df = df.withColumn("__buf", F.collect_list(spec.price).over(buf_frame))
    ema_fast = F.when(buflen >= EMA_FAST, _ema_over_buffer("__buf", EMA_FAST))
    ema_slow = F.when(buflen >= EMA_SLOW, _ema_over_buffer("__buf", EMA_SLOW))
    bb_upper, bb_lower, bb_middle = bollinger_cols(spec)

    # Stage the two EMA folds as real columns FIRST, then derive MACD from
    # the staged columns: the seeded fold over the (≤1000-row) buffer is the
    # most expensive expression here, and inlining it into macd/macd_signal/
    # macd_histogram would evaluate it up to six times per row.  Catalyst
    # keeps the stage (non-cheap exprs referenced >1× don't collapse).
    # Value-safe: the MACD gate (≥35 rows) implies both EMA gates (12, 26).
    staged = df.withColumn("ema_12", ema_fast).withColumn("ema_26", ema_slow)
    macd_line = F.when(
        buflen >= MACD_SLOW + MACD_SIGNAL, F.col("ema_12") - F.col("ema_26")
    )

    out = (
        staged.withColumn("rsi_14", rsi_col(spec))
        .withColumn("sma_20", sma_col(spec, SMA_FAST))
        .withColumn("sma_50", sma_col(spec, SMA_SLOW))
        .withColumn("bb_upper", bb_upper)
        .withColumn("bb_lower", bb_lower)
        .withColumn("bb_middle", bb_middle)
        .withColumn("macd", macd_line)
        .withColumn("macd_signal", macd_line)
        .withColumn(
            "macd_histogram",
            F.when(macd_line.isNotNull(), F.lit(0.0)),
        )
        .withColumn("volatility", volatility_col(spec))
        .withColumn("price_change_percent", price_change_pct_col(spec))
        .drop("__buf")
    )
    base = [c for c in df.columns if c != "__buf"]
    return out.select(*base, *IND_COLS)


# ---------------------------------------------------------------------------
# U1 — custom-indicator plug-in registry (reference BaseIndicator /
# add_custom_indicator, technical_indicators.py:51-65,361-363).  A builder
# maps (spec, period) -> Column; non-algebraic indicators can fall back to a
# pandas_udf over a collected buffer.
# ---------------------------------------------------------------------------
IndicatorBuilder = Callable[[SeriesSpec, int], Column]

_REGISTRY: dict[str, IndicatorBuilder] = {
    "rsi": lambda spec, p: rsi_col(spec, p or RSI_PERIOD),
    "sma": lambda spec, p: sma_col(spec, p or SMA_FAST),
    "volatility": lambda spec, p: volatility_col(spec, p or VOL_PERIOD),
}


def add_custom_indicator(name: str, builder: IndicatorBuilder) -> None:
    _REGISTRY[name.lower()] = builder


def get_indicator(name: str) -> IndicatorBuilder:
    return _REGISTRY[name.lower()]


# ---------------------------------------------------------------------------
# Grouped-map pandas path — linear-time per symbol; the scale path for very
# long histories.  ``indicator_arrays`` also serves the streaming state handler.
# ---------------------------------------------------------------------------


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
    # Window version does (avg skips NULL) by not counting it.
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
    ``IND_COLS`` appended.  Mirrors ``with_indicators`` exactly;
    cross-checked in tests/test_indicators.py.
    """
    pdf = pdf.sort_values([spec.ts, spec.tiebreak], kind="mergesort").reset_index(drop=True)
    ind = indicator_arrays(pdf[spec.price].to_numpy(dtype=np.float64))
    return pd.concat([pdf, pd.DataFrame(ind)], axis=1)


def indicators_apply_in_pandas(df: DataFrame, spec: SeriesSpec | None = None) -> DataFrame:
    """Scale-path indicator computation: one Arrow batch per symbol, linear
    time, no O(buffer) per-row arrays.  Output schema = input + indicator
    doubles (same names as ``with_indicators``)."""
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
