"""Hypothesis property tests: the pandas indicator kernel
(``indicator_frame``) must agree with a
straight-line numpy transcription of the reference math on ARBITRARY price
series, not just the fixture corpus — and structural operators must hold
their invariants on any input."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from real_time_stock_market_data_pipeline_spark.operators import indicators as ind

prices_strategy = st.lists(
    st.floats(min_value=0.01, max_value=10_000.0,
              allow_nan=False, allow_infinity=False),
    min_size=2,
    max_size=120,
)


def _numpy_reference(prices: list[float]) -> pd.DataFrame:
    """Straight transcription of reference technical_indicators.py math."""
    out = []
    for i in range(len(prices)):
        buf = np.array(prices[max(0, i - ind.BUFFER_SIZE + 1) : i + 1])
        row = {}
        # SMA20 (null under period)
        row["sma_20"] = float(np.mean(buf[-20:])) if len(buf) >= 20 else None
        # RSI simple-mean, 100 when no losses
        if len(buf) >= 15:
            deltas = np.diff(buf)[-14:]
            gains = np.mean(np.where(deltas > 0, deltas, 0.0))
            losses = np.mean(np.where(deltas < 0, -deltas, 0.0))
            row["rsi_14"] = 100.0 if losses == 0 else 100.0 - 100.0 / (1 + gains / losses)
        else:
            row["rsi_14"] = None
        # volatility: population std of ALL buffer returns, annualized.
        # Gate is period+1 = 21 (reference validate_data(prices, period+1),
        # technical_indicators.py:190-191) — NOT 22.
        if len(buf) >= 21:
            rets = np.diff(buf) / buf[:-1]
            row["volatility"] = float(np.std(rets) * math.sqrt(252))
        else:
            row["volatility"] = None
        out.append(row)
    return pd.DataFrame(out)


@settings(max_examples=25, deadline=None)
@given(prices_strategy)
def test_pandas_indicator_path_matches_numpy_reference(prices):
    pdf = pd.DataFrame(
        {
            "company_id": "X",
            "tick_id": range(len(prices)),
            "trade_datetime": pd.date_range("2024-01-01", periods=len(prices), freq="min"),
            "current_price": prices,
            "volume": 1,
        }
    )
    spec = ind.SeriesSpec()
    got = ind.indicator_frame(pdf, spec)
    want = _numpy_reference(prices)
    for col in ["sma_20", "rsi_14", "volatility"]:
        g = got[col].to_numpy(dtype=float)
        w = want[col].to_numpy(dtype=float)
        assert np.allclose(g, w, rtol=1e-9, atol=1e-9, equal_nan=True), col


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.floats(min_value=0.01, max_value=10_000.0,
                  allow_nan=False, allow_infinity=False),
        min_size=27,  # past both EMA gates (12, 26)
        max_size=120,
    )
)
def test_ema_seeded_recursion_property(prices):
    """EMA(buffer) equals the reference's explicit loop for any series;
    rows under the period gate are NaN."""
    arr = np.array(prices)
    for period in (12, 26):
        got = ind.ema_series(arr, period)
        assert np.isnan(got[: period - 1]).all()
        m = 2.0 / (period + 1)
        acc = arr[0]
        for x in arr[1:]:
            acc = x * m + acc * (1 - m)
        assert math.isclose(got[-1], acc, rel_tol=1e-12)


def _ema_loop_over_deque(prices: np.ndarray, period: int, i: int,
                         buffer: int = ind.BUFFER_SIZE) -> float:
    """Reference EMA at row i: seeded recursion over the VISIBLE deque
    (last `buffer` prices), technical_indicators.py:124-130."""
    buf = prices[max(0, i - buffer + 1) : i + 1]
    m = 2.0 / (period + 1)
    acc = buf[0]
    for x in buf[1:]:
        acc = x * m + acc * (1 - m)
    return acc


@settings(max_examples=5, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1))
def test_ema_buffer_saturation_past_1000_rows(seed):
    """Once the deque saturates (n > BUFFER_SIZE=1000), ema_series switches
    to the sliding-dot-product form; it must still equal the reference's
    explicit recursion over the visible window at every sampled row."""
    rng = np.random.default_rng(seed)
    n = 1000 + int(rng.integers(5, 60))
    prices = 100.0 + np.cumsum(rng.normal(0, 1, n))
    for period in (12, 26):
        got = ind.ema_series(prices, period)
        for i in (999, 1000, n - 2, n - 1):  # straddle the saturation edge
            want = _ema_loop_over_deque(prices, period, i)
            assert math.isclose(got[i], want, rel_tol=1e-9), (period, i)


@settings(max_examples=3, deadline=None)
@given(st.integers(min_value=0, max_value=2**31 - 1))
def test_indicator_frame_past_buffer_saturation(seed):
    """indicator_frame vs the straight reference transcription on a series
    LONGER than the 1000-row deque: SMA/RSI window semantics are unaffected,
    but volatility's return window and the EMA weighted-sum fast path both
    switch behavior at saturation — they must keep matching the visible
    buffer's math."""
    rng = np.random.default_rng(seed)
    n = 1000 + int(rng.integers(10, 50))
    prices = list(100.0 + np.cumsum(rng.normal(0, 1, n)))
    pdf = pd.DataFrame(
        {
            "company_id": "X",
            "tick_id": range(n),
            "trade_datetime": pd.date_range("2024-01-01", periods=n, freq="min"),
            "current_price": prices,
            "volume": 1,
        }
    )
    got = ind.indicator_frame(pdf, ind.SeriesSpec())
    want = _numpy_reference(prices)
    for col in ["sma_20", "rsi_14", "volatility"]:
        g = got[col].to_numpy(dtype=float)[-30:]
        w = want[col].to_numpy(dtype=float)[-30:]
        assert np.allclose(g, w, rtol=1e-9, atol=1e-9, equal_nan=True), col


_asof_right = st.dictionaries(
    keys=st.tuples(st.sampled_from(["A", "B", "C"]), st.integers(0, 50)),
    values=st.one_of(st.none(), st.floats(-1e6, 1e6, allow_nan=False)),
    min_size=0, max_size=15,
)
_asof_left = st.lists(
    st.tuples(st.sampled_from(["A", "B", "C"]), st.integers(0, 50)),
    min_size=1, max_size=15,
)


@settings(max_examples=10, deadline=None)
@given(right=_asof_right, left=_asof_left)
def test_asof_join_matches_duckdb_on_arbitrary_data(spark, right, left):
    """asof_join ≡ DuckDB's native ASOF LEFT JOIN on arbitrary keyed series
    — including NULL right payloads (the matched row's NULL must carry, not
    an older row's value) and left rows before any right row."""
    import duckdb

    from real_time_stock_market_data_pipeline_spark.operators.relational import asof_join

    ldf = spark.createDataFrame(
        [(k, i, t) for i, (k, t) in enumerate(left)], "k string, id long, t long"
    )
    rrows = [(k, t, v) for (k, t), v in sorted(right.items())]
    rdf = spark.createDataFrame(rrows, "k string, t long, v double") if rrows else (
        spark.createDataFrame([], "k string, t long, v double")
    )
    got = {
        r.id: r.v_asof for r in asof_join(ldf, rdf, "k", "t", ["v"]).collect()
    }
    con = duckdb.connect()
    con.register("l", ldf.toPandas())
    con.register("r", rdf.toPandas())
    want = {
        row[0]: row[1]
        for row in con.execute(
            "SELECT l.id, r.v FROM l ASOF LEFT JOIN r "
            "ON l.k = r.k AND l.t >= r.t"
        ).fetchall()
    }
    assert set(got) == set(want)
    for i in got:  # exact: the same double flows through both engines
        assert got[i] == want[i] or (got[i] is None and want[i] is None), (
            i, got[i], want[i],
        )


_merge_rows = st.lists(
    st.tuples(st.sampled_from(["a", "b", "c", "d"]), st.floats(-100, 100, allow_nan=False)),
    min_size=0, max_size=10,
)


@settings(max_examples=10, deadline=None)
@given(existing=_merge_rows, updates=_merge_rows)
def test_merge_upsert_invariants(spark, existing, updates):
    """merge_upsert on arbitrary batches: one row per key, key set = union,
    updated keys take the LAST update's payload (by order_col), untouched
    keys keep the existing row — checked against a straight Python model."""
    from real_time_stock_market_data_pipeline_spark.maintenance import merge_upsert

    ex = {}  # existing must be unique per key: last wins in the model build
    for i, (k, v) in enumerate(existing):
        ex[k] = (v, i)
    exdf = spark.createDataFrame(
        [(k, v, i) for k, (v, i) in ex.items()] or [], "k string, v double, seq long"
    )
    updf = spark.createDataFrame(
        [(k, v, 1000 + i) for i, (k, v) in enumerate(updates)] or [],
        "k string, v double, seq long",
    )
    out = {r.k: (r.v, r.seq) for r in merge_upsert(exdf, updf, ["k"], order_col="seq").collect()}
    model = dict(ex)
    for i, (k, v) in enumerate(updates):
        model[k] = (v, 1000 + i)  # serial application: last write wins
    assert out == model


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.floats(min_value=0.01, max_value=10_000.0,
                  allow_nan=False, allow_infinity=False),
        min_size=40,  # past the MACD gate (slow 26 + signal 9 = 35)
        max_size=120,
    )
)
def test_macd_matches_reference_recursion(prices):
    """MACD = EMA12 − EMA26 over the visible buffer; signal = line (the
    reference's simplification, technical_indicators.py:176), histogram 0;
    NaN before row 35."""
    arr = np.array(prices)
    pdf = pd.DataFrame(
        {
            "company_id": "X",
            "tick_id": range(len(arr)),
            "trade_datetime": pd.date_range("2024-01-01", periods=len(arr), freq="min"),
            "current_price": arr,
            "volume": 1,
        }
    )
    out = ind.indicator_frame(pdf, ind.SeriesSpec())
    macd = out["macd"].to_numpy(dtype=float)
    assert np.isnan(macd[:34]).all()
    for i in (35, len(arr) - 1):
        want = _ema_loop_over_deque(arr, 12, i) - _ema_loop_over_deque(arr, 26, i)
        assert math.isclose(macd[i], want, rel_tol=1e-9, abs_tol=1e-9), i
    assert (out["macd_signal"].to_numpy(dtype=float)[35:] == macd[35:]).all()
    assert (out["macd_histogram"].to_numpy(dtype=float)[35:] == 0.0).all()


# ---------------------------------------------------------------------------
# Media container round-trips on ARBITRARY pixel/sample content (pure
# numpy, no Spark): encode -> decode must be the identity, and the parsers
# must never raise on any truncation of a valid container.
# ---------------------------------------------------------------------------


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=30),
    seed=st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_bmp_roundtrip_arbitrary_images(w, h, seed):
    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        decode_bmp_pixels,
        encode_bmp24,
        parse_image_header,
    )

    arr = np.random.default_rng(seed).integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    b = encode_bmp24(arr)
    assert parse_image_header(b) == ("bmp", w, h, 3)
    assert np.array_equal(decode_bmp_pixels(b), arr)
    # no truncation of a valid BMP may raise; all must reject cleanly
    for cut in (0, 2, 13, 14, 30, 53, 54, len(b) - 1):
        if cut < len(b):
            assert decode_bmp_pixels(b[:cut]) is None


@given(
    n=st.integers(min_value=1, max_value=60),
    ch=st.integers(min_value=1, max_value=4),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip_arbitrary_audio(n, ch, rate, seed):
    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        decode_wav_samples,
        encode_wav_pcm16,
        parse_audio_header,
    )

    arr = (
        np.random.default_rng(seed)
        .integers(-32768, 32768, size=(n, ch), dtype=np.int64)
        .astype("i2")
    )
    b = encode_wav_pcm16(arr, sample_rate=rate)
    assert parse_audio_header(b) == ("wav", ch, rate, 16, n)
    assert np.array_equal(decode_wav_samples(b), arr.astype(np.int32))
    for cut in (0, 4, 11, 12, 36, 43, 44, len(b) - 1):
        if cut < len(b):
            assert decode_wav_samples(b[:cut]) is None


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),
            st.integers(min_value=0, max_value=40),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_dup_clusters_matches_union_find(spark, edges):
    """On ARBITRARY graphs (self-loops, parallel edges, chains, cycles)
    dup_clusters' small path equals a straight-line python union-find; the
    distributed path is pinned equal to the small path elsewhere
    (test_text_dedup.test_dup_clusters_paths_agree)."""
    from real_time_stock_market_data_pipeline_spark.operators.dedup import dup_clusters
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_a BIGINT, doc_b BIGINT"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        for n in (a, b):
            parent.setdefault(n, n)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comps: dict[int, list[int]] = {}
    for n in parent:
        comps.setdefault(find(n), []).append(n)
    exp = {n: min(members) for members in comps.values() for n in members}
    assert got == exp


# --- PII redaction properties -----------------------------------------------
# Arbitrary printable text with PII-shaped fragments spliced in at random
# positions: redaction must be idempotent, and the redacted text must
# contain ZERO residual matches for every rule — on ANY input, not just
# the planted corpus.
_pii_fragments = st.sampled_from([
    "a.b+c@x-y.example.com", "USER@SUB.DOMAIN.ORG", "555-123-4567",
    "000-000-0000", "https://h.example.com/p?a=1&b=2#f",
    "http://x.io/q", "not-an-email@", "@nope", "12-34-56",
])
_pii_text = st.lists(
    st.one_of(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0, max_size=12,
        ),
        _pii_fragments,
    ),
    min_size=0, max_size=8,
).map(" ".join)


@settings(max_examples=10, deadline=None)
@given(texts=st.lists(_pii_text, min_size=1, max_size=6))
def test_redact_pii_idempotent_and_exhaustive(spark, texts):
    from pyspark.sql import functions as F

    from real_time_stock_market_data_pipeline_spark.operators.text import (
        PII_RULES,
        redact_pii,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    once = redact_pii(df).select(
        "doc_id", F.col("text_redacted").alias("text"))
    twice = redact_pii(once)
    rows = twice.collect()
    # exhaustive: a second pass finds nothing left to redact
    for kind, _, _ in PII_RULES:
        assert all(r[f"n_{kind}"] == 0 for r in rows)
    # idempotent: the second pass changes no text
    assert sorted((r["doc_id"], r["text_redacted"]) for r in rows) == sorted(
        (r["doc_id"], r["text"]) for r in once.collect()
    )


# --- dHash banding recall property ------------------------------------------
# The pigeonhole claim in operators/multimodal.dhash_near_dup_pairs: ANY
# pair of 64-bit hashes within Hamming distance < DHASH_BANDS shares at
# least one identical 16-bit band, so the banded join has PERFECT recall —
# checked on arbitrary signed-64 hashes and arbitrary ≤3-bit corruptions.
_hash64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
_flips = st.lists(st.integers(0, 63), min_size=0, max_size=3, unique=True)


@settings(max_examples=8, deadline=None)
@given(pairs=st.lists(st.tuples(_hash64, _flips), min_size=1, max_size=5))
def test_dhash_banding_recall_guarantee(spark, pairs):
    from real_time_stock_market_data_pipeline_spark.operators.multimodal import (
        dhash_near_dup_pairs,
    )

    rows = []
    expected = set()
    for i, (h, flips) in enumerate(pairs):
        mask = 0
        for b in flips:
            mask |= 1 << b
        # XOR in the unsigned domain, then wrap back to signed 64-bit —
        # Python's arbitrary-precision XOR on a negative int would
        # otherwise escape the LongType range
        u2 = (h & ((1 << 64) - 1)) ^ mask
        h2 = u2 - (1 << 64) if u2 >= (1 << 63) else u2
        a_id, b_id = 10 * i, 10 * i + 1
        rows += [(a_id, h), (b_id, h2)]
        expected.add((a_id, b_id, len(flips)))
    df = spark.createDataFrame(rows, "doc_id LONG, dhash LONG")
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in dhash_near_dup_pairs(df).collect()
    }
    # every planted ≤3-bit pair MUST be recovered (perfect recall);
    # cross-pair collisions may legitimately add extra rows
    assert expected <= got


@given(
    n=st.integers(min_value=0, max_value=10**12),
    target=st.integers(min_value=1, max_value=10**6),
    floor=st.integers(min_value=1, max_value=10**4),
)
@settings(max_examples=200, deadline=None)
def test_semdedup_k_properties(n, target, floor):
    """The SemDeDup scale knob's contract, for ANY corpus size: k never
    drops below the floor, k·target covers the corpus (ceil semantics —
    expected cluster size never exceeds target), k is minimal above the
    floor (k−1 clusters would overflow target), and k is monotone in n
    (a bigger corpus never gets fewer clusters)."""
    from real_time_stock_market_data_pipeline_spark.operators.similarity import (
        semdedup_k,
    )

    k = semdedup_k(n, target, floor)
    assert k >= floor
    assert k * target >= n
    if k > floor:
        assert (k - 1) * target < n
    assert semdedup_k(n + 1, target, floor) >= k


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(
            st.integers(min_value=0, max_value=11), min_size=5, max_size=40
        ),
        min_size=2,
        max_size=10,
    ),
    st.integers(min_value=0, max_value=3),
)
def test_span_dedup_accounting_invariants(spark, docs_tokens, n_sharers):
    """Structural invariants of span_dedup on arbitrary corpora with an
    injected shared passage: (1) per-doc accounting is self-consistent —
    kept tokens in the rebuilt text = n_tokens − n_dropped_tokens;
    (2) the canonical (min-id) owner of the shared passage never drops a
    token from it; (3) a doc drops tokens only if some 13-gram of its
    text occurs in another doc; (4) dropped spans are counted only when
    tokens are dropped."""
    from real_time_stock_market_data_pipeline_spark.operators.dedup import span_dedup

    shared = " ".join(f"shared{i}" for i in range(15))
    rows = []
    for i, toks in enumerate(docs_tokens):
        body = " ".join(f"w{t}doc{i}" for t in toks)  # doc-unique words
        if i < n_sharers:
            body = f"{body} {shared}"
        rows.append((i, body))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in span_dedup(df).collect()}
    assert len(out) == len(rows)
    for i, text in rows:
        r = out[i]
        kept = [t for t in r.text_deduped.split(" ") if t]
        assert r.n_tokens == len([t for t in text.split(" ") if t])
        assert len(kept) == r.n_tokens - r.n_dropped_tokens
        assert (r.n_dropped_spans > 0) == (r.n_dropped_tokens > 0)
    if n_sharers >= 2:
        # the canonical owner keeps the shared passage verbatim; every
        # other sharer loses at least its 15 tokens
        assert out[0].n_dropped_tokens == 0
        for i in range(1, min(n_sharers, len(rows))):
            assert out[i].n_dropped_tokens >= 15
    if n_sharers <= 1:
        # no cross-document repetition anywhere: nothing drops
        assert all(r.n_dropped_tokens == 0 for r in out.values())


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),  # doc id
            st.integers(min_value=1, max_value=60),      # token count
            st.integers(min_value=0, max_value=3),       # image count
            st.integers(min_value=1, max_value=200),     # image w
            st.integers(min_value=1, max_value=200),     # image h
        ),
        min_size=1,
        max_size=80,
        unique_by=lambda t: t[0],
    ),
    capacity=st.integers(min_value=20, max_value=200),
)
def test_multimodal_packing_invariants(spark, docs, capacity):
    """mm12's accounting invariants on arbitrary corpora (the 493a734
    discipline): (1) no doc splits — every input id appears exactly once;
    (2) capacity holds — a bin's total cost exceeds the budget only when
    it holds a single oversized doc (next-fit never splits); (3) bins
    number contiguously from 0 per shard with no empty bin between used
    ones; (4) costs decompose as tokens + Σ ceil(w/p)·ceil(h/p) over the
    REAL parsed headers; (5) the assignment is invariant under input
    repartitioning (determinism)."""
    from real_time_stock_market_data_pipeline_spark.operators.sampling import (
        pack_multimodal_sequences,
    )

    rows = []
    for did, ntok, nimg, w, h in docs:
        text = " ".join(f"t{j}" for j in range(ntok))
        png = (
            b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0d" + b"IHDR"
            + w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + b"\x08\x06\x00\x00\x00"
        )
        imgs = [png] * nimg + [b"not an image", None]  # corrupt+NULL: cost 0
        rows.append((did, text, imgs))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, images array<binary>"
    )
    out = pack_multimodal_sequences(df, capacity=capacity, patch=16).collect()

    assert sorted(r.doc_id for r in out) == sorted(t[0] for t in docs)
    by_doc = {r.doc_id: r for r in out}
    for did, ntok, nimg, w, h in docs:
        r = by_doc[did]
        per_img = -(-w // 16) * (-(-h // 16))
        assert r.n_tok == ntok
        assert r.n_patches == nimg * per_img  # corrupt/NULL contribute 0
        assert r.cost == r.n_tok + r.n_patches

    bins: dict = {}
    for r in out:
        bins.setdefault((r.shard, r.bin), []).append(r.cost)
    for (shard, _), costs in bins.items():
        if sum(costs) > capacity:
            assert len(costs) == 1  # only a lone oversized doc overflows
    for shard in {r.shard for r in out}:
        used = sorted(b for (s, b) in bins if s == shard)
        assert used == list(range(len(used)))  # contiguous from 0

    again = {
        r.doc_id: (r.shard, r.bin)
        for r in pack_multimodal_sequences(
            df.repartition(7), capacity=capacity, patch=16
        ).collect()
    }
    assert again == {r.doc_id: (r.shard, r.bin) for r in out}
