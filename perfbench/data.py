"""Seeded inputs for every workload.

Each generator is a pure function of its seed, so the same ``--seed`` gives
byte-identical tables and tick files.  The tables follow the engine's sf
testdata: same columns and parquet types, and the distributions that
``profile_tables.py`` measures on it (README.md, "Inputs"), at smaller row
counts.  They are written with pyarrow on the driver, so making inputs
starts no Spark job.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Measured on the sf0.001, sf0.01 and sf0.1 testdata (README.md, "Inputs"):
# every scale has 200/3 events per user and 0.15 customers per event, and
# spreads its events over 30 days.
EVENTS_PER_USER = 200 / 3
CUSTOMERS_PER_EVENT = 0.15
SPAN_US = 30 * 86_400 * 1_000_000
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
VALUE_MEAN = 50.0
PROPS_K = 100
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
NATIONS = 25
ACCTBAL = (-999.99, 9999.99)
DIM = 64
LABELS = 10
T0 = pd.Timestamp("2024-01-01")


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def events_frame(rng: np.random.Generator, n_events: int, n_users: int) -> pd.DataFrame:
    """The testdata's ``events``: event ids in time order, timestamps
    uniform over 30 days (microseconds, not UTC-adjusted), users and event
    types uniform, values exponential with mean 50 rounded to cents, and
    ``props`` a JSON object whose ``k`` is uniform on 0..99."""
    ts = np.sort(rng.integers(0, SPAN_US, n_events))
    return pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": (T0 + pd.to_timedelta(ts, unit="us")).astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(VALUE_MEAN, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, PROPS_K, n_events)],
    })


def write_tables(sf_dir: str, seed: int, n_events: int, n_vectors: int) -> None:
    """events, customer and embeddings tables in the testdata layout, with
    the testdata's users per event and customers per event."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(sf_dir, exist_ok=True)
    n_users = max(1, round(n_events / EVENTS_PER_USER))
    _write(events_frame(rng, n_events, n_users), f"{sf_dir}/events.parquet")
    n_customers = max(1, round(n_events * CUSTOMERS_PER_EVENT))
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
        "c_nationkey": rng.integers(0, NATIONS, n_customers).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(*ACCTBAL, n_customers), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_customers),
    }), f"{sf_dir}/customer.parquet")
    # unit vectors in random directions; the labels carry no cluster
    vecs = rng.normal(0.0, 1.0, (n_vectors, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(pd.DataFrame({
        "vec_id": np.arange(n_vectors, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, LABELS, n_vectors).astype(np.int32),
    }), f"{sf_dir}/embeddings.parquet")


@dataclass
class TickFiles:
    """A chronological tick backlog cut into equal files, delivered in order."""

    src_dir: str
    paths: list[str]
    n_ticks: list[int]
    delivered: int = 0

    def deliver(self, n_files: int) -> None:
        """Move the next ``n_files`` files into the stream's source directory
        (atomic rename, strictly increasing mtimes so the file source takes
        them in order)."""
        end = min(self.delivered + n_files, len(self.paths))
        for i in range(self.delivered, end):
            dst = os.path.join(self.src_dir, os.path.basename(self.paths[i]))
            os.replace(self.paths[i], dst)
            os.utime(dst, ns=(0, 1_700_000_000_000_000_000 + i * 1_000_000_000))
        self.delivered = end


def tick_frame(seed: int, n_symbols: int, ticks_per_file: int, n_files: int,
               prefill: int = 0) -> tuple[pd.DataFrame, list[int]]:
    """Events of ``n_symbols`` users read as ticks, by the mapping of
    ``sources.readers.ticks_from_events`` (event_id → tick_id, user →
    company_id, ts → trade_datetime, value → current_price, props.k →
    volume), and the file sizes that cut them: ``prefill`` ticks per symbol
    first (file 0, so a deep workload starts with full price buffers),
    then ``n_files`` files of ``ticks_per_file``.  Files are chronological
    and each symbol's share of a file is binomial, as in the testdata.  The
    seed drives the events and permutes the symbol names."""
    rng = np.random.default_rng([seed, 2])
    names = np.array([f"SYM{i:04d}" for i in rng.permutation(n_symbols)])
    counts = [prefill * n_symbols] if prefill else []
    counts += [ticks_per_file] * n_files
    ev = events_frame(rng, sum(counts), n_symbols)
    return pd.DataFrame({
        "company_id": names[ev["user_id"].to_numpy()],
        "tick_id": ev["event_id"],
        "trade_datetime": ev["ts"].dt.tz_localize("UTC").astype("datetime64[us, UTC]"),
        "current_price": ev["value"],
        "volume": ev["props"].str.slice(6, -1).astype(np.int64),
    }), counts


def write_tick_files(work_dir: str, frame: pd.DataFrame, counts: list[int]) -> TickFiles:
    """Cut ``frame`` into files of ``counts`` rows under a staging
    directory; ``TickFiles.deliver`` later moves them into ``src``."""
    stage, src = f"{work_dir}/stage", f"{work_dir}/src"
    os.makedirs(stage, exist_ok=True)
    os.makedirs(src, exist_ok=True)
    paths, lo = [], 0
    for i, c in enumerate(counts):
        path = f"{stage}/ticks-{i:05d}.parquet"
        _write(frame.iloc[lo:lo + c], path)
        paths.append(path)
        lo += c
    return TickFiles(src, paths, list(counts))
