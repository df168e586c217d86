"""Micro-batch invariance of every stateful ``*_stream`` function.

The same small, ts-ordered rows run once in batch mode (each key's
rows reach ``on_batch`` in one call) and once as a stream of three
micro-batches. Functions that emit a running value are compared by
the last emission per key; functions that emit alerts or filtered
rows are compared as multisets. ``stateful_map_stream`` and
``stateful_flat_map_stream`` have no batch mode: their reference is
the same stream delivered as one micro-batch.
"""

from __future__ import annotations

import tempfile
import time
from collections import Counter
from datetime import datetime, timedelta

import pytest

import bytewax_spark.operators as op
import bytewax_spark.streaming as st
from bytewax_spark.dataflow import Dataflow
from bytewax_spark.sources import TestingSource

SCHEMA = "k string, ts timestamp, seq long, item string, v long, etype string"
T0 = datetime(2024, 1, 1)
_ITEMS = "x y x z x w y x z z x y".split()
_ETYPES = {
    # a converts in the first micro-batch and keeps sending events
    "a": "view other cart buy view cart buy other view other cart buy".split(),
    # b converts in the last one
    "b": "other view other other view cart other other other buy other other".split(),
}


def _rows() -> list[tuple]:
    rows = []
    for i in range(24):
        k, j = "ab"[i % 2], i // 2
        v = 10 + (i * 7) % 13
        if i in (12, 20, 21):
            v = 150 + i  # outliers for the z-score alerts
        rows.append((k, T0 + timedelta(minutes=i), i, _ITEMS[j], v, _ETYPES[k][j]))
    return rows


def _map(ks):
    def running_sum(state, v):
        state = (state or 0) + v
        return state, state

    return st.stateful_map_stream("f", ks, running_sum, "v", "acc", "long", order_by="seq")


def _flat_map(ks):
    def deltas(state, v):
        # discard after an outlier: the next value starts afresh
        out = [] if state is None else [v - state]
        return (None if v > 100 else v), out

    return st.stateful_flat_map_stream("f", ks, deltas, "v", "d", "long", order_by="seq")


_RUNNING, _MULTISET = "running", "multiset"

# name -> (build(keyed stream), comparison, streaming only)
CASES = {
    "stateful_map_stream": (_map, _MULTISET, True),
    "stateful_flat_map_stream": (_flat_map, _MULTISET, True),
    "heavy_hitters_stream": (
        lambda ks: st.heavy_hitters_stream("f", ks, "item", k=2), _RUNNING, False
    ),
    "collect_stream": (
        lambda ks: st.collect_stream(
            "f", ks, "v", timeout=timedelta(seconds=1), max_size=5, order_by="seq"
        ),
        _MULTISET,
        False,
    ),
    "distinct_count_stream": (
        lambda ks: st.distinct_count_stream("f", ks, "item", p=4), _RUNNING, False
    ),
    "frequency_cap_stream": (
        lambda ks: st.frequency_cap_stream("f", ks, "item", cap=2, order_by="seq"),
        _MULTISET,
        False,
    ),
    "funnel_stream": (
        lambda ks: st.funnel_stream("f", ks, "ts", "etype", ["view", "cart", "buy"]),
        _MULTISET,
        False,
    ),
    "zscore_anomaly_stream": (
        lambda ks: st.zscore_anomaly_stream(
            "f", ks, "v", threshold=2.0, min_n=3, order_by="seq"
        ),
        _MULTISET,
        False,
    ),
    "dedup_ttl_stream": (
        lambda ks: st.dedup_ttl_stream("f", ks, "item", "ts", timedelta(minutes=5)),
        _MULTISET,
        False,
    ),
    "moments_stream": (
        lambda ks: st.moments_stream("f", ks, "v", 0.0, 200.0, k=2), _RUNNING, False
    ),
    "sample_stream": (lambda ks: st.sample_stream("f", ks, "item", n=2), _RUNNING, False),
    "ewma_stream": (lambda ks: st.ewma_stream("f", ks, "v", "ts", "seq"), _RUNNING, False),
    "holt_stream": (lambda ks: st.holt_stream("f", ks, "v", "ts", "seq"), _RUNNING, False),
    "cusum_stream": (
        lambda ks: st.cusum_stream(
            "f", ks, "v", "ts", "seq", target_micro=15, threshold_micro=20
        ),
        _RUNNING,
        False,
    ),
}


def test_cases_cover_every_stateful_stream_function():
    stateful = {n for n in st.__all__ if n.endswith("_stream")} - {"interval_join_stream"}
    assert set(CASES) == stateful


def _out_df(build, streaming: bool, files: int = 1):
    flow = Dataflow("inv")
    src = TestingSource(_rows(), schema=SCHEMA, streaming=streaming, files=files)
    return build(op.key_on("key", op.input("in", flow, src), "k")).df


def _stream(df, expect: int | None) -> list[tuple[int, dict]]:
    """Run the streaming DataFrame to the end of its input and return
    ``(batch_id, row)`` pairs. With ``expect`` the query runs on a
    processing-time trigger (its timers keep an availableNow query
    alive) until that many rows arrived."""
    got: list[tuple[int, dict]] = []

    def sink(batch, batch_id):
        got.extend((batch_id, r.asDict()) for r in batch.collect())

    trigger = {"availableNow": True} if expect is None else {"processingTime": "500 milliseconds"}
    q = (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="bw_ckpt_"))
        .trigger(**trigger)
        .start()
    )
    try:
        deadline = time.time() + 60
        while q.isActive and time.time() < deadline and (expect is None or len(got) < expect):
            time.sleep(0.2)
    finally:
        q.stop()
    assert q.exception() is None, q.exception()
    return got


def _hashable(row: dict) -> tuple:
    return tuple(
        sorted((c, tuple(v) if isinstance(v, list) else v) for c, v in row.items())
    )


def _last_per_key(rows: list[tuple[int, dict]]) -> Counter:
    last = {}
    for b, r in rows:
        last[r["key"]] = max(last.get(r["key"], b), b)
    return Counter(_hashable(r) for b, r in rows if b == last[r["key"]])


@pytest.mark.parametrize("name", sorted(CASES))
def test_stream_matches_batch_over_micro_batches(spark, name):
    build, compare, streaming_only = CASES[name]
    if streaming_only:
        ref = Counter(_hashable(r) for _, r in _stream(_out_df(build, True), None))
    else:
        ref = Counter(_hashable(r.asDict()) for r in _out_df(build, False).collect())
    assert ref, "the reference run emitted nothing"
    expect = sum(ref.values()) if name == "collect_stream" else None
    got = _stream(_out_df(build, True, files=3), expect)
    assert len({b for b, _ in got}) > 1, "expected emissions from several micro-batches"
    if compare == _RUNNING:
        assert _last_per_key(got) == ref
    else:
        assert Counter(_hashable(r) for _, r in got) == ref
