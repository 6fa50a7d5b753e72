"""Unit tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import data  # noqa: E402
import ledger  # noqa: E402
from stats import spread, tail  # noqa: E402


def _task_end(stage: int, cpu_ns: int, gc_ms: int = 0, shuffle_bytes: int = 0) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
        "Task Info": {"Task ID": 0, "Launch Time": 0, "Finish Time": 1},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
            "Shuffle Read Metrics": {"Remote Bytes Read": 7, "Local Bytes Read": 9},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_bytes},
        },
    }


# A cut-down log in Spark's format: the events the ledger reads, among
# others it must skip.  Job 0 is submitted inside span "a", jobs 1 and 2
# inside span "b", job 3 after every span.  Stage 2 is listed by jobs 1 and
# 2 (a reused stage); its tasks belong to the first.
CANNED = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "SparkListenerApplicationStart", "App Name": "t", "Timestamp": 900},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000,
     "Stage Infos": [], "Stage IDs": [0], "Properties": {}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
    _task_end(0, 2_000_000, gc_ms=3),
    _task_end(0, 4_000_000, shuffle_bytes=2048),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_100},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2_050,
     "Stage Infos": [], "Stage IDs": [1, 2], "Properties": {}},
    _task_end(1, 1_000_000),
    _task_end(2, 1_000_000, shuffle_bytes=1024),
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2_900,
     "Stage Infos": [], "Stage IDs": [2, 3], "Properties": {}},
    _task_end(3, 5_000_000),
    {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 9_000,
     "Stage Infos": [], "Stage IDs": [4], "Properties": {}},
    _task_end(4, 9_000_000),
]


@pytest.fixture
def canned_lines() -> list[str]:
    return [json.dumps(e) + "\n" for e in CANNED]


def test_parse_reads_jobs_and_tasks(canned_lines):
    log = ledger.parse(canned_lines)
    assert [(j.job_id, j.submitted_ms, j.stage_ids) for j in log.jobs] == [
        (0, 1_000, [0]), (1, 2_050, [1, 2]), (2, 2_900, [2, 3]), (3, 9_000, [4])]
    assert len(log.tasks) == 6
    first = log.tasks[0]
    assert (first.stage_id, first.cpu_ms, first.gc_ms) == (0, 2.0, 3.0)
    assert log.tasks[1].shuffle_write_bytes == 2048


def test_read_dir_wants_exactly_one_log(tmp_path, canned_lines):
    with pytest.raises(RuntimeError):
        ledger.read_dir(str(tmp_path))
    (tmp_path / "local-1").write_text("".join(canned_lines))
    assert len(ledger.read_dir(str(tmp_path)).jobs) == 4


def test_attribute_by_submission_time(canned_lines):
    log = ledger.parse(canned_lines)
    spans = [("a", 950.0, 1_500.0), ("gap-free", 1_500.0, 2_000.0), ("b", 2_000.0, 3_000.0)]
    a, empty, b = ledger.attribute(log, spans)
    assert (a.jobs, a.tasks, a.cpu_ms, a.gc_ms, a.shuffle_kb) == (1, 2, 6.0, 3.0, 2.0)
    assert (empty.jobs, empty.tasks) == (0, 0)
    # job 3 (submitted at 9 000) is outside every span and is left out
    assert (b.jobs, b.tasks, b.cpu_ms, b.shuffle_kb) == (2, 3, 7.0, 1.0)


def test_attribute_ignores_jobs_between_spans(canned_lines):
    log = ledger.parse(canned_lines)
    (only,) = ledger.attribute(log, [("late", 2_000.0, 2_500.0)])
    assert (only.jobs, only.tasks) == (1, 2)  # job 2 at 2 900 is past the end


@pytest.mark.parametrize("n, pct, rank", [
    (11, 9, 1),      # the first n with ten samples beyond one of them
    (12, 16, 2),
    (20, 50, 10),
    (24, 58, 14),
    (100, 90, 90),
    (1000, 99, 990),
])
def test_tail_leaves_ten_samples_beyond(n, pct, rank):
    samples = [float(v) for v in range(n, 0, -1)]  # unsorted on purpose
    p, value = tail(samples)
    assert (p, value) == (pct, float(rank))
    assert sum(s > value for s in samples) >= 10
    # one percentile higher would leave fewer than ten beyond
    if p < 99:
        higher = sorted(samples)[-(-(p + 1) * n // 100) - 1]
        assert sum(s > higher for s in samples) < 10


def test_tail_needs_eleven_samples():
    assert tail([1.0] * 10) is None
    assert tail([]) is None


def test_spread_is_quartile_distance_over_median():
    assert spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((4.5 - 1.5) / 3.0)


def test_tables_follow_the_testdata_layout(tmp_path):
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    data.write_tables(str(tmp_path / "a"), 7, n_events=2_000, n_vectors=200)
    data.write_tables(str(tmp_path / "b"), 7, n_events=2_000, n_vectors=200)
    for t in ("events", "customer", "embeddings"):
        a, b = (tmp_path / d / f"{t}.parquet" for d in "ab")
        assert a.read_bytes() == b.read_bytes()  # same seed, same bytes
    ts = pq.ParquetFile(tmp_path / "a" / "events.parquet").schema.column(1)
    kind = json.loads(ts.logical_type.to_json())
    assert ts.name == "ts" and (kind["isAdjustedToUTC"], kind["timeUnit"]) == (
        False, "microseconds")
    ev = pd.read_parquet(tmp_path / "a" / "events.parquet")
    assert ev["user_id"].nunique() == 30          # 200/3 events per user
    assert ev["ts"].is_monotonic_increasing
    assert len(pd.read_parquet(tmp_path / "a" / "customer.parquet")) == 300
    em = pd.read_parquet(tmp_path / "a" / "embeddings.parquet")
    norms = np.linalg.norm(np.stack(em["embedding"].to_numpy()), axis=1)
    assert np.allclose(norms, 1.0, atol=1e-6)


def test_ticks_are_events_read_through_the_tick_mapping():
    frame, counts = data.tick_frame(3, n_symbols=17, ticks_per_file=1003, n_files=4,
                                    prefill=1200)
    assert counts == [17 * 1200] + [1003] * 4 and len(frame) == sum(counts)
    assert frame["tick_id"].tolist() == list(range(len(frame)))
    assert frame["trade_datetime"].is_monotonic_increasing
    assert frame["company_id"].nunique() == 17
    assert frame["volume"].between(0, 99).all()
    # the prefill file fills every 1 000-price buffer
    assert frame.iloc[:counts[0]]["company_id"].value_counts().min() >= 1000
