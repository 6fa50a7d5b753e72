"""Oracle-checked indicator queries (SURVEY.md §2.5 W2–W9, T6 alerts, P8).

Strategy: each query is ONE SQL body rendered for two dialects (Spark SQL and
DuckDB) that differ only in three primitives:

  * ``fold``        — Spark ``aggregate(...)`` vs DuckDB ``list_reduce(...)``
  * ``collected``   — Spark ``collect_list`` (skips NULLs) vs DuckDB
                      ``list(...)`` wrapped in ``list_filter`` to match
  * ``jsonk``       — ``get_json_object`` vs ``json_extract_string``

Everything else — window specs, CASE gates, the floor-based rounding, the
seeded-EMA recursion — is the *same text*, so both engines execute the same
IEEE-754 op sequence and produce bit-identical doubles.  Built-in window
AVG/STDDEV are deliberately avoided here: DuckDB evaluates sliding frames
with segment trees (different summation order), which breaks exact hashing;
sequential list folds do not.  The engine's other indicator path, the
pandas kernel in operators/indicators (``flagship`` and the stream), uses
pandas rolling windows; tests/test_indicators.py cross-checks it against
this path's r6-rounded values at ``atol=6e-7``.

Reference semantics per indicator are documented in operators/indicators.py
(population std, simple-mean RSI, EMA seeded at the visible buffer head,
MACD signal=line, null gates; technical_indicators.py:39-196).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.readers import load_table
from .dialect import collected as _collected
from .dialect import d as _d
from .dialect import (bxor, explode_from, fold, jsonk, last_ignore_nulls,
                      list_len, r6t, seeded_fold)
from .queries import QUERIES

# Shared window text (per-symbol series ordered by time, deterministic tiebreak)
WIN = "PARTITION BY company_id ORDER BY trade_datetime ASC, tick_id ASC"
BUFFER = 1000  # reference deque maxlen (shared/config.py:135)


def collected(dialect: str, col: str, preceding: int) -> str:
    return _collected(dialect, col, preceding, WIN)


def ticks_cte(dialect: str) -> str:
    """events → validated tick stream (FIXTURES.md §2 + P7 filter: the
    reference only admits valid prices into the indicator buffer)."""
    return f"""
raw_ticks AS (
  SELECT e.event_id AS tick_id,
         e.user_id AS company_id,
         e.ts AS trade_datetime,
         e.value AS current_price,
         CAST({jsonk(dialect, 'e.props', 'k')} AS BIGINT) AS volume
  FROM events e
),
ticks AS (
  SELECT * FROM raw_ticks
  WHERE current_price IS NOT NULL AND NOT isnan(current_price)
    AND current_price > 0 AND (volume IS NULL OR volume >= 0)
)
"""


def ema_expr(dialect: str, lst: str, period: int) -> str:
    m = f"({_d('2.0')} / {_d(f'{period + 1}.0')})"
    body = f"x * {m} + acc * ({_d('1.0')} - {m})"
    return seeded_fold(dialect, lst, body)


# ---------------------------------------------------------------------------
# Query bodies.  Each returns SQL text for the given dialect; the Spark side
# is executed via spark.sql over a registered `events` temp view so the two
# texts stay visibly parallel.
# ---------------------------------------------------------------------------


def sql_sma(dialect: str) -> str:
    # Fold sums are STAGED as columns in their own projection so each list
    # fold evaluates once per row; the r6t rounding wrapper references its
    # argument 3× and would otherwise triple the fold work (Catalyst keeps
    # the stage because non-cheap exprs referenced >1× don't collapse).
    return f"""
WITH {ticks_cte(dialect)},
s AS (
  SELECT tick_id, company_id, trade_datetime, current_price,
         row_number() OVER ({WIN}) AS rn,
         {collected(dialect, 'current_price', 19)} AS buf20,
         {collected(dialect, 'current_price', 49)} AS buf50
  FROM ticks
),
f AS (
  SELECT tick_id, company_id, trade_datetime, current_price, rn,
         {fold(dialect, 'buf20', 'acc + x')} AS s20,
         {fold(dialect, 'buf50', 'acc + x')} AS s50
  FROM s
)
SELECT tick_id, company_id, trade_datetime, current_price,
       CASE WHEN rn >= 20 THEN {r6t(f"s20 / {_d('20.0')}")} END AS sma_20,
       CASE WHEN rn >= 50 THEN {r6t(f"s50 / {_d('50.0')}")} END AS sma_50
FROM f
"""


def sql_ema(dialect: str) -> str:
    return f"""
WITH {ticks_cte(dialect)},
s AS (
  SELECT tick_id, company_id, trade_datetime, current_price,
         row_number() OVER ({WIN}) AS rn,
         {collected(dialect, 'current_price', BUFFER - 1)} AS buf
  FROM ticks
),
f AS (
  SELECT tick_id, company_id, trade_datetime, current_price, rn,
         {ema_expr(dialect, 'buf', 12)} AS e12,
         {ema_expr(dialect, 'buf', 26)} AS e26
  FROM s
)
SELECT tick_id, company_id, trade_datetime, current_price,
       CASE WHEN rn >= 12 THEN {r6t('e12')} END AS ema_12,
       CASE WHEN rn >= 26 THEN {r6t('e26')} END AS ema_26
FROM f
"""


RSI_FROM_SUMS = (
    f"CASE WHEN (lsum / {_d('14.0')}) = {_d('0.0')} THEN {_d('100.0')} "
    f"ELSE {_d('100.0')} - {_d('100.0')} / ({_d('1.0')} + "
    f"(gsum / {_d('14.0')}) / (lsum / {_d('14.0')})) END"
)


def _gain_loss_folds(dialect: str) -> tuple[str, str]:
    gains = fold(
        dialect, "dbuf", f"acc + (CASE WHEN x > {_d('0.0')} THEN x ELSE {_d('0.0')} END)"
    )
    losses = fold(
        dialect, "dbuf", f"acc + (CASE WHEN x < {_d('0.0')} THEN -x ELSE {_d('0.0')} END)"
    )
    return gains, losses


def sql_rsi(dialect: str) -> str:
    gains, losses = _gain_loss_folds(dialect)
    return f"""
WITH {ticks_cte(dialect)},
s1 AS (
  SELECT tick_id, company_id, trade_datetime, current_price,
         row_number() OVER ({WIN}) AS rn,
         current_price - lag(current_price, 1) OVER ({WIN}) AS delta
  FROM ticks
),
s2 AS (
  SELECT tick_id, company_id, trade_datetime, current_price, rn,
         {collected(dialect, 'delta', 13)} AS dbuf
  FROM s1
),
f AS (
  SELECT tick_id, company_id, trade_datetime, current_price, rn,
         {gains} AS gsum, {losses} AS lsum
  FROM s2
)
SELECT tick_id, company_id, trade_datetime, current_price,
       CASE WHEN rn >= 15 THEN {r6t(RSI_FROM_SUMS)} END AS rsi_14
FROM f
"""


def mean_var_from_sums(s1: str, s2: str, n: str) -> tuple[str, str]:
    """(mean, population variance) from pre-staged sum and sum-of-squares
    columns: s2/n − mean², clamped ≥ 0 for fp safety."""
    mean = f"({s1}) / {n}"
    var = f"greatest(({s2}) / {n} - (({s1}) / {n}) * (({s1}) / {n}), {_d('0.0')})"
    return mean, var


def sql_bollinger(dialect: str) -> str:
    mean, var = mean_var_from_sums("p1", "p2", _d("20.0"))
    std = f"sqrt({var})"
    upper = f"({mean}) + {_d('2.0')} * {std}"
    lower = f"({mean}) - {_d('2.0')} * {std}"
    return f"""
WITH {ticks_cte(dialect)},
s AS (
  SELECT tick_id, company_id, trade_datetime, current_price,
         row_number() OVER ({WIN}) AS rn,
         {collected(dialect, 'current_price', 19)} AS buf20
  FROM ticks
),
f AS (
  SELECT tick_id, company_id, trade_datetime, current_price, rn,
         {fold(dialect, 'buf20', 'acc + x')} AS p1,
         {fold(dialect, 'buf20', 'acc + x * x')} AS p2
  FROM s
)
SELECT tick_id, company_id, trade_datetime, current_price,
       CASE WHEN rn >= 20 THEN {r6t(upper)} END AS bb_upper,
       CASE WHEN rn >= 20 THEN {r6t(lower)} END AS bb_lower,
       CASE WHEN rn >= 20 THEN {r6t(mean)} END AS bb_middle
FROM f
"""


def sql_macd(dialect: str) -> str:
    line = "(e12) - (e26)"
    gate = "rn >= 35"  # slow(26) + signal(9), technical_indicators.py:165
    return f"""
WITH {ticks_cte(dialect)},
s AS (
  SELECT tick_id, company_id, trade_datetime, current_price,
         row_number() OVER ({WIN}) AS rn,
         {collected(dialect, 'current_price', BUFFER - 1)} AS buf
  FROM ticks
),
f AS (
  SELECT tick_id, company_id, trade_datetime, current_price, rn,
         {ema_expr(dialect, 'buf', 12)} AS e12,
         {ema_expr(dialect, 'buf', 26)} AS e26
  FROM s
)
SELECT tick_id, company_id, trade_datetime, current_price,
       CASE WHEN {gate} THEN {r6t(line)} END AS macd,
       CASE WHEN {gate} THEN {r6t(line)} END AS macd_signal,
       CASE WHEN {gate} THEN {_d('0.0')} END AS macd_histogram
FROM f
"""


def _vol_from_sums() -> str:
    _, var = mean_var_from_sums("r1", "r2", "nr")
    return f"sqrt({var}) * sqrt({_d('252.0')})"


def _ret_sum_stage(dialect: str) -> str:
    """Shared staging: per-row return-buffer fold sums (r1, r2, nr)."""
    return (
        f"{fold(dialect, 'rbuf', 'acc + x')} AS r1,\n"
        f"         {fold(dialect, 'rbuf', 'acc + x * x')} AS r2,\n"
        f"         {_d(list_len(dialect, 'rbuf'))} AS nr"
    )


def sql_volatility(dialect: str) -> str:
    return f"""
WITH {ticks_cte(dialect)},
s1 AS (
  SELECT tick_id, company_id, trade_datetime, current_price,
         row_number() OVER ({WIN}) AS rn,
         (current_price - lag(current_price, 1) OVER ({WIN}))
           / lag(current_price, 1) OVER ({WIN}) AS ret
  FROM ticks
),
s2 AS (
  SELECT tick_id, company_id, trade_datetime, current_price, rn,
         {collected(dialect, 'ret', BUFFER - 2)} AS rbuf
  FROM s1
),
f AS (
  SELECT tick_id, company_id, trade_datetime, current_price, rn,
         {_ret_sum_stage(dialect)}
  FROM s2
)
SELECT tick_id, company_id, trade_datetime, current_price,
       CASE WHEN rn >= 21 THEN {r6t(_vol_from_sums())} END AS volatility
FROM f
"""


def sql_price_change(dialect: str) -> str:
    pct = (
        f"(current_price - lag(current_price, 1) OVER ({WIN}))"
        f" / lag(current_price, 1) OVER ({WIN}) * {_d('100.0')}"
    )
    return f"""
WITH {ticks_cte(dialect)}
SELECT tick_id, company_id, trade_datetime, current_price,
       {r6t(pct)} AS price_change_percent
FROM ticks
"""


def sql_ml_features(dialect: str) -> str:
    """W9 — sliding feature window (size 5) + next-price label
    (ml/train_linear_regression.py:36-42), as lag/lead columns."""
    lags = ",\n         ".join(
        f"lag(current_price, {i}) OVER ({WIN}) AS x{6 - i}" for i in range(5, 0, -1)
    )
    return f"""
WITH {ticks_cte(dialect)},
s AS (
  SELECT tick_id, company_id, trade_datetime,
         {lags},
         lead(current_price, 1) OVER ({WIN}) AS label
  FROM ticks
)
SELECT * FROM s WHERE x1 IS NOT NULL AND label IS NOT NULL
"""


def _rsi_vol_cte(dialect: str) -> str:
    """Shared scaffold for alert/extreme queries: rsi_14 + volatility,
    with fold sums staged once per row (see sql_sma note)."""
    gains, losses = _gain_loss_folds(dialect)
    return f"""
{ticks_cte(dialect)},
s1 AS (
  SELECT tick_id, company_id, trade_datetime, current_price,
         row_number() OVER ({WIN}) AS rn,
         current_price - lag(current_price, 1) OVER ({WIN}) AS delta,
         (current_price - lag(current_price, 1) OVER ({WIN}))
           / lag(current_price, 1) OVER ({WIN}) AS ret
  FROM ticks
),
s2 AS (
  SELECT tick_id, company_id, trade_datetime, current_price, rn,
         {collected(dialect, 'delta', 13)} AS dbuf,
         {collected(dialect, 'ret', BUFFER - 2)} AS rbuf
  FROM s1
),
fsum AS (
  SELECT tick_id, company_id, trade_datetime, current_price, rn,
         {gains} AS gsum, {losses} AS lsum,
         {_ret_sum_stage(dialect)}
  FROM s2
),
ind AS (
  SELECT tick_id, company_id, trade_datetime, current_price,
         CASE WHEN rn >= 15 THEN {r6t(RSI_FROM_SUMS)} END AS rsi_14,
         CASE WHEN rn >= 21 THEN {r6t(_vol_from_sums())} END AS volatility
  FROM fsum
)
"""


def _alerts_body(ind_rel: str) -> str:
    """The two alert branches over an ``ind``-shaped relation.  The source
    relation is a parameter because it is referenced TWICE: rendered over
    the CTE for DuckDB (which materializes multi-reference CTEs), and over
    a snapshotted temp view on the Spark side (which inlines CTEs and would
    otherwise run the whole indicator window chain once per branch)."""
    t = _d("70.0")
    t2 = _d("30.0")
    t3 = _d("0.05")
    return f"""
SELECT tick_id, company_id, trade_datetime,
       CASE WHEN rsi_14 > {t} THEN 'RSI_OVERBOUGHT' ELSE 'RSI_OVERSOLD' END AS alert_type,
       rsi_14 AS indicator_value,
       CASE WHEN rsi_14 > {t} THEN {t} ELSE {t2} END AS threshold_value,
       'HIGH' AS severity
FROM {ind_rel}
WHERE rsi_14 IS NOT NULL AND (rsi_14 > {t} OR rsi_14 < {t2})
UNION ALL
SELECT tick_id, company_id, trade_datetime,
       'HIGH_VOLATILITY' AS alert_type,
       volatility AS indicator_value,
       {t3} AS threshold_value,
       'MEDIUM' AS severity
FROM {ind_rel}
WHERE volatility IS NOT NULL AND volatility > {t3}
"""


def sql_alerts(dialect: str) -> str:
    """T6 — threshold alerting (analytics_consumer.py:226-302): RSI>70 →
    RSI_OVERBOUGHT/HIGH, elif RSI<30 → RSI_OVERSOLD/HIGH; volatility>0.05 →
    HIGH_VOLATILITY/MEDIUM (thresholds shared/config.py:104-110).  One input
    row can emit both an RSI and a volatility alert → UNION ALL."""
    return f"""
WITH {_rsi_vol_cte(dialect)}
{_alerts_body('ind')}
"""


def sql_extreme_filter(dialect: str) -> str:
    """P8 — extreme-value gate (analytics_consumer.py:77-95): drop rows whose
    RSI is exactly 0/100 or volatility exactly 0 (non-trading-hour artifacts);
    rows with NULL indicators pass through untouched."""
    return f"""
WITH {_rsi_vol_cte(dialect)}
SELECT tick_id, company_id, trade_datetime, current_price, rsi_14, volatility
FROM ind
WHERE NOT (coalesce(rsi_14 = {_d('0.0')} OR rsi_14 = {_d('100.0')}, FALSE)
        OR coalesce(volatility = {_d('0.0')}, FALSE))
"""


def sql_all_indicators(dialect: str) -> str:
    """The full analytics row (§1.1 derived table) in one plan — every
    indicator over a single per-symbol window chain.  All list folds are
    staged once per row in ``fsum``; the final projection is cheap column
    arithmetic."""
    mean20, var20 = mean_var_from_sums("p1", "p2", _d("20.0"))
    std20 = f"sqrt({var20})"
    mean50 = f"s50 / {_d('50.0')}"
    macd_line = "(e12) - (e26)"
    gains, losses = _gain_loss_folds(dialect)
    pct = f"(current_price - prev_price) / prev_price * {_d('100.0')}"
    return f"""
WITH {ticks_cte(dialect)},
s1 AS (
  SELECT tick_id, company_id, trade_datetime, current_price, volume,
         row_number() OVER ({WIN}) AS rn,
         lag(current_price, 1) OVER ({WIN}) AS prev_price,
         current_price - lag(current_price, 1) OVER ({WIN}) AS delta,
         (current_price - lag(current_price, 1) OVER ({WIN}))
           / lag(current_price, 1) OVER ({WIN}) AS ret,
         {collected(dialect, 'current_price', 19)} AS buf20,
         {collected(dialect, 'current_price', 49)} AS buf50,
         {collected(dialect, 'current_price', BUFFER - 1)} AS buf
  FROM ticks
),
s2 AS (
  SELECT *, {collected(dialect, 'delta', 13)} AS dbuf,
         {collected(dialect, 'ret', BUFFER - 2)} AS rbuf
  FROM s1
),
fsum AS (
  SELECT tick_id, company_id, trade_datetime, current_price, volume, rn,
         prev_price,
         {fold(dialect, 'buf20', 'acc + x')} AS p1,
         {fold(dialect, 'buf20', 'acc + x * x')} AS p2,
         {fold(dialect, 'buf50', 'acc + x')} AS s50,
         {ema_expr(dialect, 'buf', 12)} AS e12,
         {ema_expr(dialect, 'buf', 26)} AS e26,
         {gains} AS gsum, {losses} AS lsum,
         {_ret_sum_stage(dialect)}
  FROM s2
)
SELECT tick_id, company_id, trade_datetime, current_price, volume,
       CASE WHEN rn >= 15 THEN {r6t(RSI_FROM_SUMS)} END AS rsi_14,
       CASE WHEN rn >= 20 THEN {r6t(mean20)} END AS sma_20,
       CASE WHEN rn >= 50 THEN {r6t(mean50)} END AS sma_50,
       CASE WHEN rn >= 12 THEN {r6t('e12')} END AS ema_12,
       CASE WHEN rn >= 26 THEN {r6t('e26')} END AS ema_26,
       CASE WHEN rn >= 20 THEN {r6t(f"({mean20}) + {_d('2.0')} * {std20}")} END AS bb_upper,
       CASE WHEN rn >= 20 THEN {r6t(f"({mean20}) - {_d('2.0')} * {std20}")} END AS bb_lower,
       CASE WHEN rn >= 20 THEN {r6t(mean20)} END AS bb_middle,
       CASE WHEN rn >= 35 THEN {r6t(macd_line)} END AS macd,
       CASE WHEN rn >= 35 THEN {r6t(macd_line)} END AS macd_signal,
       CASE WHEN rn >= 35 THEN {_d('0.0')} END AS macd_histogram,
       CASE WHEN rn >= 21 THEN {r6t(_vol_from_sums())} END AS volatility,
       {r6t(pct)} AS price_change_percent
FROM fsum
"""


def sql_throttled_volatility(dialect: str) -> str:
    """W10 — indicator throttling (technical_indicators.py:14-36,270-274):
    volatility recomputed only every 5th tick per symbol
    (VOLATILITY_CALC_FREQUENCY=5, shared/config.py:113-120); intermediate
    rows serve the cached (most recent computed) value.  The cache is a
    running ``last_value IGNORE NULLS`` over the gated column — no state,
    no extra shuffle beyond the one per-symbol sort."""
    cached = last_ignore_nulls(dialect, "vol_computed")
    frame = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    return f"""
WITH {ticks_cte(dialect)},
s1 AS (
  SELECT tick_id, company_id, trade_datetime, current_price,
         row_number() OVER ({WIN}) AS rn,
         (current_price - lag(current_price, 1) OVER ({WIN}))
           / lag(current_price, 1) OVER ({WIN}) AS ret
  FROM ticks
),
s2 AS (
  SELECT tick_id, company_id, trade_datetime, current_price, rn,
         {collected(dialect, 'ret', BUFFER - 2)} AS rbuf
  FROM s1
),
f AS (
  SELECT tick_id, company_id, trade_datetime, current_price, rn,
         {_ret_sum_stage(dialect)}
  FROM s2
),
g AS (
  SELECT tick_id, company_id, trade_datetime, current_price,
         CASE WHEN rn >= 21 AND rn % 5 = 0 THEN {r6t(_vol_from_sums())} END AS vol_computed
  FROM f
)
SELECT tick_id, company_id, trade_datetime, current_price,
       {cached} OVER ({WIN} {frame}) AS volatility_cached
FROM g
"""


def sql_analytics_dashboard(dialect: str) -> str:
    """J2 — the dashboard's fetch_analytics_data (dashboard/app.py:86-119):
    the DERIVED analytics rows (full indicator set of sql_all_indicators =
    the §1.1 stock_analytics table) ⋈ broadcast companies dim, anchored 24h
    window, newest 500.  Closes the loop the flagship only smoke-covers:
    a driver-checked join over the derived table, not the raw ticks.

    The 24 h anchor is computed from the RAW events scan, not from the
    indicator CTE: indicators are row-preserving, so max(ts) is identical —
    but Spark inlines (never materializes) a CTE per reference, and an
    anchor subquery over ``ind`` would execute the whole indicator window
    chain a second time (measured 23.6 s → 3.4 s at sf0.1)."""
    return f"""
WITH ind AS ({sql_all_indicators(dialect)})
SELECT i.tick_id, i.company_id, c.c_name AS company_name,
       i.trade_datetime, i.current_price,
       i.rsi_14, i.sma_20, i.sma_50, i.macd, i.volatility,
       i.price_change_percent
FROM ind i JOIN customer c ON i.company_id = c.c_custkey
WHERE i.trade_datetime >=
  (SELECT max(ts) FROM events) - INTERVAL 24 HOURS
ORDER BY i.trade_datetime DESC, i.tick_id DESC
LIMIT 500
"""


def _alert_feed_body(alerts_sql: str) -> str:
    return f"""
WITH alerts AS ({alerts_sql})
SELECT a.tick_id, a.company_id, c.c_name AS company_name,
       a.trade_datetime, a.alert_type, a.indicator_value,
       a.threshold_value, a.severity
FROM alerts a JOIN customer c ON a.company_id = c.c_custkey
ORDER BY a.trade_datetime DESC, a.tick_id DESC, a.alert_type ASC
LIMIT 50
"""


def sql_alert_feed(dialect: str) -> str:
    """J3+O2 — the dashboard alert feed: alerts (T6) ⋈ broadcast dim,
    ORDER BY created DESC LIMIT 50 (dashboard/app.py:121-143,753)."""
    return _alert_feed_body(sql_alerts(dialect))


# ---------------------------------------------------------------------------
# Registration: Spark side = spark.sql(text) over the events temp view.
def sql_ohlc(dialect: str) -> str:
    """A13 — hourly OHLC candlesticks per symbol: the chart-feed rollup
    every market dashboard consumes.  Open/close are the deterministic
    first/last tick in the hour under the canonical (trade_datetime,
    tick_id) order — expressed as two row_numbers over ONE sort per
    (symbol, hour) partition and a conditional aggregate, identical text
    in both dialects (min_by/arg_min tie-breaking differs between
    engines, so it is avoided).  One window sort + one map-combinable
    aggregate; partitions are (symbol × hour) — high-cardinality, no
    skew."""
    return f"""
WITH {ticks_cte(dialect)},
h AS (
  SELECT company_id, date_trunc('hour', trade_datetime) AS bar_hour,
         tick_id, trade_datetime, current_price, volume,
         row_number() OVER (PARTITION BY company_id, date_trunc('hour', trade_datetime)
                            ORDER BY trade_datetime ASC, tick_id ASC) AS rn_a,
         row_number() OVER (PARTITION BY company_id, date_trunc('hour', trade_datetime)
                            ORDER BY trade_datetime DESC, tick_id DESC) AS rn_d
  FROM ticks
)
SELECT company_id, bar_hour,
       max(CASE WHEN rn_a = 1 THEN current_price END) AS open,
       max(current_price) AS high,
       min(current_price) AS low,
       max(CASE WHEN rn_d = 1 THEN current_price END) AS close,
       CAST(sum(coalesce(volume, 0)) AS BIGINT) AS bar_volume,
       CAST(count(*) AS BIGINT) AS n_ticks
FROM h GROUP BY company_id, bar_hour
"""


def sql_vwap(dialect: str) -> str:
    """W11 — daily VWAP per symbol: Σ(price·volume)/Σ(volume) over the
    volume-bearing ticks, the execution-quality benchmark indicator.
    Pure map-combinable aggregate — no window, one shuffle on
    (symbol, day); double arithmetic pinned via the d() wrappers so both
    engines fold identically."""
    pv = f"{_d('current_price')} * {_d('volume')}"
    return f"""
WITH {ticks_cte(dialect)}
SELECT company_id, CAST(trade_datetime AS DATE) AS trade_date,
       {r6t(f"sum({pv}) / sum({_d('volume')})")} AS vwap,
       {r6t(f"sum({_d('current_price')}) / count(*)")} AS avg_price,
       CAST(sum(volume) AS BIGINT) AS total_volume,
       CAST(count(*) AS BIGINT) AS n_ticks
FROM ticks
WHERE volume IS NOT NULL AND volume > 0
GROUP BY company_id, CAST(trade_datetime AS DATE)
"""


# ---------------------------------------------------------------------------

def sql_series_similarity(dialect: str) -> str:
    """W12 — time-series similarity search across symbols (EDBT'19
    streaming-similarity workload, PAPERS.md): which tickers moved most
    like the query symbol?  Per symbol, the daily close series (W1's
    deterministic last-tick-of-day) is Z-NORMALIZED (so scale and level
    drop out — similarity is shape), then every candidate symbol is scored
    against the query symbol (min company_id) by mean squared z-distance
    over their SHARED trading days; top-10 nearest, distance-then-id
    order.

    Scale shape: one window sort for the daily close (shared with W1/A13),
    per-symbol moment aggregates (map-combinable), then ONE equi-join on
    the trade date — the query side is a single symbol's series, so the
    join is a broadcast of a few hundred rows against the corpus, never
    all-pairs; generalizing to all-pairs would bucket on date exactly like
    the dedup family's keys.  ORDER BY uses the ROUNDED distance (r6t) so
    the top-10 cut is engine-deterministic; sd > 0 and ≥ 10 shared days
    gate degenerate series before the divide."""
    close = "close"
    zdiff = f"(z1.z - z2.z)"
    return f"""
WITH {ticks_cte(dialect)},
daily AS (
  SELECT company_id, CAST(trade_datetime AS DATE) AS d,
         current_price AS close
  FROM (
    SELECT company_id, trade_datetime, tick_id, current_price,
           row_number() OVER (PARTITION BY company_id, CAST(trade_datetime AS DATE)
                              ORDER BY trade_datetime DESC, tick_id DESC) AS rn
    FROM ticks
  ) t WHERE rn = 1
),
stats AS (
  SELECT company_id, avg({close}) AS mu, stddev_pop({close}) AS sd,
         count(*) AS n
  FROM daily GROUP BY company_id
),
z AS (
  SELECT d.company_id, d.d, ({_d(close)} - {_d("s.mu")}) / {_d("s.sd")} AS z
  FROM daily d JOIN stats s ON d.company_id = s.company_id
  WHERE s.sd > {_d("0.0")} AND s.n >= 10
),
qsym AS (SELECT min(company_id) AS qid FROM z),
pairs AS (
  SELECT z2.company_id,
         CAST(count(*) AS BIGINT) AS n_common,
         sum({zdiff} * {zdiff}) AS ssd
  FROM z z1
  JOIN qsym q ON z1.company_id = q.qid
  JOIN z z2 ON z2.d = z1.d AND z2.company_id <> q.qid
  GROUP BY z2.company_id
  HAVING count(*) >= 10
)
SELECT company_id, n_common,
       {r6t(f"ssd / {_d('n_common')}")} AS mean_sq_dist
FROM pairs
ORDER BY {r6t(f"ssd / {_d('n_common')}")} ASC, company_id ASC
LIMIT 10
"""


def sql_series_all_pairs(dialect: str) -> str:
    """W13 — ALL-PAIRS cross-symbol series similarity (the generalization
    w12's docstring promised): every symbol gets its top-3 nearest
    neighbours by mean squared z-distance over shared trading days.  Same
    daily-close → z-normalize pipeline as w12, then a DATE-BUCKETED
    self-join — the join key is the trading day, so a date's bucket holds
    one z-row per symbol and the pair work is Σ_d S_d²/2, never a global
    cross product.  Orientation is canonical (a < b) through the
    aggregation and mirrored AFTER it, so each pair's moments are computed
    once; per-symbol top-3 is a row_number over the ROUNDED distance
    (r6t) with a neighbour-id tiebreak — engine-deterministic.

    Scale shape: one window sort for the daily close, per-symbol moment
    aggregates, one shuffle on d for the self-join, one shuffle on
    (a, b) for the pair moments, one per-symbol window for the top-k.
    The S²-per-date term is the honest cost of exact all-pairs; with many
    thousands of symbols the same pipeline feeds the dedup family's
    banding instead (sign-sketch the z-series per symbol, LSH-bucket,
    then score candidates only) — w12 (one query symbol ⇒ broadcast) and
    w13 (exact all-pairs) are the two ends that bound that design.
    Restricted to w12's query symbol, the top-3 here IS w12's top-3
    (pinned by tests/test_indicators.py::test_w13_slice_matches_w12)."""
    close = "close"
    zdiff = "(z1.z - z2.z)"
    msd = r6t(f"ssd / {_d('n_common')}")
    return f"""
WITH {ticks_cte(dialect)},
daily AS (
  SELECT company_id, CAST(trade_datetime AS DATE) AS d,
         current_price AS close
  FROM (
    SELECT company_id, trade_datetime, tick_id, current_price,
           row_number() OVER (PARTITION BY company_id, CAST(trade_datetime AS DATE)
                              ORDER BY trade_datetime DESC, tick_id DESC) AS rn
    FROM ticks
  ) t WHERE rn = 1
),
stats AS (
  SELECT company_id, avg({close}) AS mu, stddev_pop({close}) AS sd,
         count(*) AS n
  FROM daily GROUP BY company_id
),
z AS (
  SELECT d.company_id, d.d, ({_d(close)} - {_d("s.mu")}) / {_d("s.sd")} AS z
  FROM daily d JOIN stats s ON d.company_id = s.company_id
  WHERE s.sd > {_d("0.0")} AND s.n >= 10
),
pairs AS (
  SELECT z1.company_id AS a, z2.company_id AS b,
         CAST(count(*) AS BIGINT) AS n_common,
         sum({zdiff} * {zdiff}) AS ssd
  FROM z z1
  JOIN z z2 ON z2.d = z1.d AND z1.company_id < z2.company_id
  GROUP BY z1.company_id, z2.company_id
  HAVING count(*) >= 10
),
mirrored AS (
  SELECT a AS company_id, b AS neighbor_id, n_common, ssd FROM pairs
  UNION ALL
  SELECT b AS company_id, a AS neighbor_id, n_common, ssd FROM pairs
),
ranked AS (
  SELECT company_id, neighbor_id, n_common,
         {msd} AS mean_sq_dist,
         row_number() OVER (PARTITION BY company_id
                            ORDER BY {msd} ASC, neighbor_id ASC) AS rnk
  FROM mirrored
)
SELECT company_id, neighbor_id, n_common, mean_sq_dist,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 3
"""


W14_TWIN_OFFSET = 1_000_000  # planted twin symbol ids = company_id + offset
W14_SKETCH_BITS = 24         # ≤ distinct trading days in every test corpus
W14_BANDS = 4                # 4 × 6-bit bands → hamming ≤ 3 has PERFECT recall


def sql_series_banded_neardup(dialect: str) -> str:
    """W14 — BANDED series near-dup detection, the scale path w13's
    docstring names for corpora beyond ~10³ symbols: instead of the
    exact Σ_d S_d² all-pairs join, each symbol's z-series is reduced to
    a 24-bit SIGN SKETCH (bit i set iff z > 0 on the i-th most recent
    global trading day — symbols align on shared reference dates, so
    equal series ⇒ equal sketches), candidates share ≥1 of 4 six-bit
    bands (the dedup family's banding; shuffle key = (band, band_val)),
    and only candidates are verified EXACTLY by mean squared z-distance
    over shared days.  Pigeonhole guarantee: a pair within 3 sketch bits
    differs in fewer bits than there are bands, so ≥1 band matches —
    recall at the hamming ≤ 3 bar is PERFECT, not probabilistic (the
    mm7/mm8/mm9 guarantee on a new modality).

    The oracle needs deterministic near-dups, so the query PLANTS them
    in-plan: every eligible symbol's z-rows are mirrored under
    company_id + 1_000_000 (mm7's byte-identical-twin trick on series),
    and the output is the verified pairs at rounded distance 0 — exactly
    one row per eligible symbol, sketch distance 0, full-day overlap,
    recovered THROUGH the banded join, not by construction.

    Scale shape: sketching is one equi-join against 24 reference dates +
    one per-symbol sum; the candidate join buckets S symbols into 4×64
    band cells (≈ S²/64 pair work vs w13's S²/2, and the sketch width is
    the knob — 64-bit sketches with 16-bit bands give S²/65536);
    verification is candidate-bound.  Per-symbol state is one BIGINT —
    at 100 TB the sketch table is megabytes."""
    p2 = "CAST(power(2.0, rd.i) AS BIGINT)"
    band_arr = ("array(0, 1, 2, 3)" if dialect == "spark" else "[0, 1, 2, 3]")
    explode = explode_from(
        dialect, "sketches", band_arr, "bid", "company_id, sketch"
    )
    ham = f"CAST(bit_count({bxor(dialect, 's1.sketch', 's2.sketch')}) AS BIGINT)"
    msd = r6t(f"ssd / {_d('n_common')}")
    return f"""
WITH {ticks_cte(dialect)},
daily AS (
  SELECT company_id, CAST(trade_datetime AS DATE) AS d,
         current_price AS close
  FROM (
    SELECT company_id, trade_datetime, tick_id, current_price,
           row_number() OVER (PARTITION BY company_id, CAST(trade_datetime AS DATE)
                              ORDER BY trade_datetime DESC, tick_id DESC) AS rn
    FROM ticks
  ) t WHERE rn = 1
),
stats AS (
  SELECT company_id, avg(close) AS mu, stddev_pop(close) AS sd,
         count(*) AS n
  FROM daily GROUP BY company_id
),
z0 AS (
  SELECT d.company_id, d.d, ({_d("close")} - {_d("s.mu")}) / {_d("s.sd")} AS z
  FROM daily d JOIN stats s ON d.company_id = s.company_id
  WHERE s.sd > {_d("0.0")} AND s.n >= 10
),
z AS (
  SELECT company_id, d, z FROM z0
  UNION ALL
  SELECT company_id + {W14_TWIN_OFFSET}, d, z FROM z0
),
refdates AS (
  SELECT d, row_number() OVER (ORDER BY d DESC) - 1 AS i
  FROM (SELECT DISTINCT d FROM daily) dd
  ORDER BY d DESC LIMIT {W14_SKETCH_BITS}
),
sketches AS (
  SELECT z.company_id,
         CAST(sum(CASE WHEN z.z > {_d("0.0")} THEN {p2} ELSE 0 END) AS BIGINT)
           AS sketch
  FROM z JOIN refdates rd ON z.d = rd.d
  GROUP BY z.company_id
),
bands AS (
  SELECT company_id, sketch, bid,
         CAST(floor(sketch / power(64.0, bid)) AS BIGINT) % 64 AS bv
  FROM ({explode})
),
near AS (
  SELECT DISTINCT s1.company_id AS a, s2.company_id AS b, {ham} AS hamming
  FROM bands s1
  JOIN bands s2 ON s1.bid = s2.bid AND s1.bv = s2.bv
               AND s1.company_id < s2.company_id
  WHERE {ham} <= {W14_BANDS - 1}
),
verified AS (
  SELECT c.a, c.b, c.hamming,
         CAST(count(*) AS BIGINT) AS n_common,
         sum((za.z - zb.z) * (za.z - zb.z)) AS ssd
  FROM near c
  JOIN z za ON za.company_id = c.a
  JOIN z zb ON zb.company_id = c.b AND zb.d = za.d
  GROUP BY c.a, c.b, c.hamming
  HAVING count(*) >= 10
)
SELECT a AS sym_a, b AS sym_b, hamming, n_common,
       {msd} AS mean_sq_dist
FROM verified
WHERE {msd} <= {_d("0.0")}
"""


_BODIES = {
    "w2_sma": sql_sma,
    "w3_ema": sql_ema,
    "w4_rsi": sql_rsi,
    "w5_bollinger": sql_bollinger,
    "w6_macd": sql_macd,
    "w7_volatility": sql_volatility,
    "w8_price_change": sql_price_change,
    "w9_ml_features": sql_ml_features,
    "t6_alerts": sql_alerts,
    "p8_extreme_filter": sql_extreme_filter,
    "w_all_indicators": sql_all_indicators,
    "w10_throttled_volatility": sql_throttled_volatility,
    "j3_alert_feed": sql_alert_feed,
    "j2_analytics_dashboard": sql_analytics_dashboard,
    "a13_ohlc_candles": sql_ohlc,
    "w11_vwap": sql_vwap,
    "w12_series_similarity": sql_series_similarity,
    "w13_series_all_pairs": sql_series_all_pairs,
    "w14_series_banded_neardup": sql_series_banded_neardup,
}

INDICATOR_ORACLES = {name: body("duck") for name, body in _BODIES.items()}


def _make_query(body):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
        load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
        return spark.sql(body("spark"))

    return fn


for _name, _body in _BODIES.items():
    QUERIES[_name] = _make_query(_body)


# --- Spark-side t6/j3: snapshot the ind subplan (same trick as the dd2
# materialized shingle plan).  The alert UNION ALL reads ``ind`` twice;
# DuckDB materializes a multi-reference CTE, but Spark inlines it and would
# execute the whole RSI/volatility window chain once per branch (measured
# j3 4.2 s → ~1 s at sf0.1).  A lazy localCheckpoint computes the subplan
# once and feeds both branches; the ORACLE text is unchanged — values are
# compared, not plans. -------------------------------------------------------


def _ind_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    ind = spark.sql(f"WITH {_rsi_vol_cte('spark')} SELECT * FROM ind")
    return ind.localCheckpoint(eager=False)


def _sql_over_snap(spark: SparkSession, sf_dir: str, build) -> DataFrame:
    """Run ``build(view_name) -> sql`` against the indicator snapshot
    registered under a UNIQUE per-call view name — a fixed name would let
    two concurrently-built plans clobber each other's snapshot between
    view creation and execution.  The view is dropped immediately after
    ``spark.sql`` returns (analysis is eager, so the resolved plan no
    longer needs the catalog entry) — repeated calls leak nothing."""
    import uuid

    name = f"__ind_snap_{uuid.uuid4().hex}"
    _ind_snapshot(spark, sf_dir).createOrReplaceTempView(name)
    try:
        return spark.sql(build(name))
    finally:
        spark.catalog.dropTempView(name)


def _t6_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql_over_snap(spark, sf_dir, _alerts_body)


def _j3_materialized(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return _sql_over_snap(
        spark, sf_dir, lambda v: _alert_feed_body(_alerts_body(v))
    )


QUERIES["t6_alerts"] = _t6_materialized
QUERIES["j3_alert_feed"] = _j3_materialized


# --- Spark-side w12/w13/w14: snapshot the shared daily→stats→z chain --------
# The t6/j3 trick applied to the series-similarity family: Spark INLINES
# multi-referenced CTEs, so the one-SQL forms re-execute the whole
# events→ticks→daily(window)→stats→z subplan once per reference — 3× in
# w12 (qsym, z1, z2), 4× in w13 (z twice inside pairs, pairs twice inside
# mirrored), ~7× in w14 (z feeds sketches/za/zb, daily additionally feeds
# refdates, and the bands self-join doubles the sketches subtree).  DuckDB
# materializes multi-reference CTEs, so the ORACLE text is unchanged —
# values are compared, not plans.  Each stage below is the SAME expression
# text as the corresponding CTE body in sql_series_* (pinned by
# tests/test_plans.py::test_series_staged_text_in_sync), evaluated over a
# lazy localCheckpoint of the previous stage.


def _series_view(spark: SparkSession, df: DataFrame) -> str:
    """Unique temp view over a lazy localCheckpoint of ``df`` (the
    _sql_over_snap contract: unique name so concurrent builds never
    clobber each other; caller drops the view after analysis)."""
    import uuid

    name = f"__series_snap_{uuid.uuid4().hex}"
    df.localCheckpoint(eager=False).createOrReplaceTempView(name)
    return name


def _series_daily_body() -> str:
    """daily CTE body — deterministic last tick per (symbol, day).  The
    text also appears verbatim inside every ``sql_series_*`` one-SQL
    oracle (test_series_staged_text_in_sync)."""
    return """SELECT company_id, CAST(trade_datetime AS DATE) AS d,
         current_price AS close
  FROM (
    SELECT company_id, trade_datetime, tick_id, current_price,
           row_number() OVER (PARTITION BY company_id, CAST(trade_datetime AS DATE)
                              ORDER BY trade_datetime DESC, tick_id DESC) AS rn
    FROM ticks
  ) t WHERE rn = 1"""


def _series_daily_sql(dialect: str) -> str:
    return f"""WITH {ticks_cte(dialect)}
{_series_daily_body()}"""


def _series_z_sql(daily_src: str) -> str:
    """stats+z text over ``daily_src`` — the z CTE body of
    sql_series_similarity / sql_series_all_pairs (= z0 in
    sql_series_banded_neardup)."""
    return f"""WITH stats AS (
  SELECT company_id, avg(close) AS mu, stddev_pop(close) AS sd,
         count(*) AS n
  FROM {daily_src} GROUP BY company_id
)
SELECT d.company_id, d.d, ({_d("close")} - {_d("s.mu")}) / {_d("s.sd")} AS z
  FROM {daily_src} d JOIN stats s ON d.company_id = s.company_id
  WHERE s.sd > {_d("0.0")} AND s.n >= 10"""


def _series_z_snap(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(daily_view, z_view) — both lazy-checkpointed, computed ONCE per
    call no matter how many times the downstream SQL references them."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    dv = _series_view(spark, spark.sql(_series_daily_sql("spark")))
    zv = _series_view(spark, spark.sql(_series_z_sql(dv)))
    return dv, zv


def _w12_tail_sql(zv: str) -> str:
    """qsym/pairs/final text of sql_series_similarity over z-source
    ``zv`` (rendered with zv="z" it is a verbatim fragment of the
    one-SQL oracle — test_series_staged_text_in_sync)."""
    zdiff = "(z1.z - z2.z)"
    return f"""WITH qsym AS (SELECT min(company_id) AS qid FROM {zv}),
pairs AS (
  SELECT z2.company_id,
         CAST(count(*) AS BIGINT) AS n_common,
         sum({zdiff} * {zdiff}) AS ssd
  FROM {zv} z1
  JOIN qsym q ON z1.company_id = q.qid
  JOIN {zv} z2 ON z2.d = z1.d AND z2.company_id <> q.qid
  GROUP BY z2.company_id
  HAVING count(*) >= 10
)
SELECT company_id, n_common,
       {r6t(f"ssd / {_d('n_common')}")} AS mean_sq_dist
FROM pairs
ORDER BY {r6t(f"ssd / {_d('n_common')}")} ASC, company_id ASC
LIMIT 10
"""


def _w12_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    dv, zv = _series_z_snap(spark, sf_dir)
    try:
        return spark.sql(_w12_tail_sql(zv))
    finally:
        spark.catalog.dropTempView(zv)
        spark.catalog.dropTempView(dv)


def _w13_pair_sql(zv: str) -> str:
    """pairs CTE body of sql_series_all_pairs over z-source ``zv``."""
    zdiff = "(z1.z - z2.z)"
    return f"""SELECT z1.company_id AS a, z2.company_id AS b,
         CAST(count(*) AS BIGINT) AS n_common,
         sum({zdiff} * {zdiff}) AS ssd
  FROM {zv} z1
  JOIN {zv} z2 ON z2.d = z1.d AND z1.company_id < z2.company_id
  GROUP BY z1.company_id, z2.company_id
  HAVING count(*) >= 10"""


def _w13_pair_stage(spark: SparkSession, zv: str) -> DataFrame:
    """w13's date-bucketed all-pairs moment aggregation — the stage the
    equi-join plan pin checks (test_w13_all_pairs_equi_join_on_date)."""
    return spark.sql(_w13_pair_sql(zv))


def _w13_tail_sql(pv: str) -> str:
    """mirrored/ranked/final text of sql_series_all_pairs over pair
    source ``pv``."""
    msd = r6t(f"ssd / {_d('n_common')}")
    return f"""WITH mirrored AS (
  SELECT a AS company_id, b AS neighbor_id, n_common, ssd FROM {pv}
  UNION ALL
  SELECT b AS company_id, a AS neighbor_id, n_common, ssd FROM {pv}
),
ranked AS (
  SELECT company_id, neighbor_id, n_common,
         {msd} AS mean_sq_dist,
         row_number() OVER (PARTITION BY company_id
                            ORDER BY {msd} ASC, neighbor_id ASC) AS rnk
  FROM mirrored
)
SELECT company_id, neighbor_id, n_common, mean_sq_dist,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 3
"""


def _w13_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    dv, zv = _series_z_snap(spark, sf_dir)
    pv = _series_view(spark, _w13_pair_stage(spark, zv))
    try:
        return spark.sql(_w13_tail_sql(pv))
    finally:
        spark.catalog.dropTempView(pv)
        spark.catalog.dropTempView(zv)
        spark.catalog.dropTempView(dv)


def _w14_twin_sql(z0v: str) -> str:
    """z CTE body of sql_series_banded_neardup (planted-twin union) over
    z0-source ``z0v``."""
    return f"""SELECT company_id, d, z FROM {z0v}
  UNION ALL
  SELECT company_id + {W14_TWIN_OFFSET}, d, z FROM {z0v}"""


def _w14_sketch_sql(zv: str, dv: str) -> str:
    """refdates+sketches text of sql_series_banded_neardup over z-source
    ``zv`` and daily source ``dv``."""
    p2 = "CAST(power(2.0, rd.i) AS BIGINT)"
    return f"""WITH refdates AS (
  SELECT d, row_number() OVER (ORDER BY d DESC) - 1 AS i
  FROM (SELECT DISTINCT d FROM {dv}) dd
  ORDER BY d DESC LIMIT {W14_SKETCH_BITS}
)
SELECT z.company_id,
         CAST(sum(CASE WHEN z.z > {_d("0.0")} THEN {p2} ELSE 0 END) AS BIGINT)
           AS sketch
  FROM {zv} z JOIN refdates rd ON z.d = rd.d
  GROUP BY z.company_id"""


def _w14_tail_sql(sv: str, zv: str) -> str:
    """bands/near/verified/final text of sql_series_banded_neardup over
    sketch source ``sv`` and z-source ``zv``."""
    ham = f"CAST(bit_count({bxor('spark', 's1.sketch', 's2.sketch')}) AS BIGINT)"
    msd = r6t(f"ssd / {_d('n_common')}")
    return f"""WITH bands AS (
  SELECT company_id, sketch, bid,
         CAST(floor(sketch / power(64.0, bid)) AS BIGINT) % 64 AS bv
  FROM ({explode_from("spark", sv, "array(0, 1, 2, 3)", "bid", "company_id, sketch")})
),
near AS (
  SELECT DISTINCT s1.company_id AS a, s2.company_id AS b, {ham} AS hamming
  FROM bands s1
  JOIN bands s2 ON s1.bid = s2.bid AND s1.bv = s2.bv
               AND s1.company_id < s2.company_id
  WHERE {ham} <= {W14_BANDS - 1}
),
verified AS (
  SELECT c.a, c.b, c.hamming,
         CAST(count(*) AS BIGINT) AS n_common,
         sum((za.z - zb.z) * (za.z - zb.z)) AS ssd
  FROM near c
  JOIN {zv} za ON za.company_id = c.a
  JOIN {zv} zb ON zb.company_id = c.b AND zb.d = za.d
  GROUP BY c.a, c.b, c.hamming
  HAVING count(*) >= 10
)
SELECT a AS sym_a, b AS sym_b, hamming, n_common,
       {msd} AS mean_sq_dist
FROM verified
WHERE {msd} <= {_d("0.0")}
"""


def _w14_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    dv, z0v = _series_z_snap(spark, sf_dir)
    zv = _series_view(spark, spark.sql(_w14_twin_sql(z0v)))
    sv = _series_view(spark, spark.sql(_w14_sketch_sql(zv, dv)))
    try:
        return spark.sql(_w14_tail_sql(sv, zv))
    finally:
        spark.catalog.dropTempView(sv)
        spark.catalog.dropTempView(zv)
        spark.catalog.dropTempView(z0v)
        spark.catalog.dropTempView(dv)


QUERIES["w12_series_similarity"] = _w12_staged
QUERIES["w13_series_all_pairs"] = _w13_staged
QUERIES["w14_series_banded_neardup"] = _w14_staged


# --- T10: greedy cooldown throttle, batch twin (streaming/throttle.py) ------

_T10_COOLDOWN_S = 172_800.0  # 48 h — ~half the >50-price alerts suppressed
_T10_ALERTS = """
SELECT CAST(company_id AS {str_t}) AS company_id, tick_id, trade_datetime,
       current_price, 'PRICE_SPIKE' AS alert_type
FROM ticks WHERE current_price > 50.0
"""


def sql_throttled_alerts_oracle() -> str:
    """T10 oracle (DuckDB ONLY — Spark executes the operator, not this
    text): the greedy rule `emit iff ts >= last_emitted + cooldown` is
    inherently sequential, which a recursive CTE CAN express — the
    recursion walks each key's alerts in (trade_datetime, tick_id) order
    carrying last_emitted, exactly ``_greedy_keep``'s loop.  epoch_us/1e6
    mirrors the operator's float-seconds arithmetic."""
    cool = _T10_COOLDOWN_S
    return f"""
WITH RECURSIVE {ticks_cte('duck')},
alerts AS ({_T10_ALERTS.format(str_t='VARCHAR')}),
ordered AS (
  SELECT *,
         row_number() OVER (PARTITION BY company_id
                            ORDER BY trade_datetime, tick_id) AS rn,
         epoch_us(trade_datetime) / 1000000.0 AS ts
  FROM alerts
),
step AS (
  SELECT company_id, rn, ts, TRUE AS emitted, ts AS last_ts
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.company_id, o.rn, o.ts,
         o.ts >= s.last_ts + {cool},
         CASE WHEN o.ts >= s.last_ts + {cool} THEN o.ts ELSE s.last_ts END
  FROM step s JOIN ordered o ON o.company_id = s.company_id AND o.rn = s.rn + 1
)
SELECT o.company_id, o.tick_id, o.trade_datetime, o.current_price, o.alert_type
FROM ordered o JOIN step s ON s.company_id = o.company_id AND s.rn = o.rn
WHERE s.emitted
"""


def _t10_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10 — cooldown alert throttle, batch twin (streaming/throttle.py
    throttle_batch): at most one PRICE_SPIKE alert per company per 48 h of
    EVENT time under the greedy rule.  One shuffle on the key, Arrow
    grouped-map, no state store; the streaming path
    (``throttled_stream``) is pinned ≡ to this operator by
    tests/test_streaming.py, so the driver row transitively covers both."""
    from ..streaming.throttle import throttle_batch

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    alerts = spark.sql(
        f"WITH {ticks_cte('spark')} {_T10_ALERTS.format(str_t='STRING')}"
    )
    return throttle_batch(alerts, _T10_COOLDOWN_S)


QUERIES["t10_throttle"] = _t10_throttle
INDICATOR_ORACLES["t10_throttle"] = sql_throttled_alerts_oracle()
