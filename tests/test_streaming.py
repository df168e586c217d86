"""Streaming execution tests: stateless ops, windowed aggs and the
stateful_batch primitive under availableNow micro-batch execution
(the reference's run_main single-drain analog)."""

from __future__ import annotations

import tempfile
from datetime import datetime, timedelta, timezone

import pandas as pd
import pytest
from pyspark.sql import functions as F

import bytewax_spark.operators as op
import bytewax_spark.operators.windowing as win
from bytewax_spark.dataflow import Dataflow
from bytewax_spark.run import run_main
from bytewax_spark.sinks import MemorySink
from bytewax_spark.sources import TestingSource
from bytewax_spark.streaming import StatefulBatchLogic, stateful_batch


def drain(spark, flow, name, **trigger):
    run_main(flow, checkpoint=tempfile.mkdtemp(prefix="bw_ckpt_"), **trigger)
    return [r.asDict() for r in spark.sql(f"SELECT * FROM {name}").collect()]


def test_streaming_stateless_pipeline(spark):
    flow = Dataflow("s_stateless")
    s = op.input("in", flow, TestingSource([(i,) for i in range(10)], schema="x long", streaming=True))
    out = op.map("sq", op.filter("even", s, F.col("x") % 2 == 0), {"x": "x", "y": F.col("x") * F.col("x")})
    assert out.is_streaming
    sink = MemorySink("s_stateless_out")
    op.output("out", out, sink)
    rows = drain(spark, flow, "s_stateless_out")
    assert sorted((r["x"], r["y"]) for r in rows) == [(0, 0), (2, 4), (4, 16), (6, 36), (8, 64)]


def test_streaming_windowed_count_complete(spark):
    ts = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    flow = Dataflow("s_window")
    s = op.input(
        "in",
        flow,
        TestingSource(
            [("a", ts(0)), ("a", ts(1)), ("a", ts(30)), ("b", ts(2))],
            schema="k string, ts timestamp",
            streaming=True,
        ),
    )
    ks = op.key_on("key", s, "k")
    counts = win.count_window("w", ks, win.EventClock("ts"), win.TumblingWindower(timedelta(minutes=10)))
    sink = MemorySink("s_window_out")
    op.output("out", counts, sink)
    rows = drain(spark, flow, "s_window_out", output_mode="complete")
    got = {(r["key"], r["window_start"].minute): r["count"] for r in rows}
    assert got == {("a", 0): 2, ("a", 30): 1, ("b", 0): 1}


def test_streaming_windowed_count_append_watermark(spark):
    """Append mode: a window emits exactly once, when the watermark
    (event-time - delay, advanced by later micro-batches) passes its
    end — the reference's emit-on-close. The last open window never
    emits under append until closed; availableNow's final batch closes
    what the watermark allows."""
    ts = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    flow = Dataflow("s_window_ap")
    s = op.input(
        "in",
        flow,
        TestingSource(
            # file 1: minutes 0-2 → file 2: minute 30 pushes the
            # watermark past windows [0,10) so they close and emit
            [("a", ts(0)), ("a", ts(1)), ("b", ts(2)), ("a", ts(30))],
            schema="k string, ts timestamp",
            streaming=True,
            files=2,
        ),
    )
    ks = op.key_on("key", s, "k")
    counts = win.count_window(
        "w", ks, win.EventClock("ts", timedelta(minutes=1)), win.TumblingWindower(timedelta(minutes=10))
    )
    sink = MemorySink("s_window_ap_out")
    op.output("out", counts, sink)
    rows = drain(spark, flow, "s_window_ap_out", output_mode="append")
    got = {(r["key"], r["window_start"].minute): r["count"] for r in rows}
    # [30,40) stays open (watermark 00:29 < 00:40): not emitted
    assert got == {("a", 0): 2, ("b", 0): 1}


def test_streaming_window_ts_name_needs_quoting(spark):
    """An ``EventClock`` column whose name is not a bare SQL identifier
    windows like any other under a watermark."""
    ts = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    flow = Dataflow("s_window_quoted")
    s = op.input(
        "in",
        flow,
        TestingSource(
            [("a", ts(0)), ("a", ts(1)), ("b", ts(2)), ("a", ts(30))],
            schema="k string, `event ts` timestamp",
            streaming=True,
            files=2,
        ),
    )
    counts = win.count_window(
        "w",
        op.key_on("key", s, "k"),
        win.EventClock("event ts", timedelta(minutes=1)),
        win.TumblingWindower(timedelta(minutes=10)),
    )
    op.output("out", counts, MemorySink("s_window_quoted_out"))
    rows = drain(spark, flow, "s_window_quoted_out", output_mode="append")
    assert {(r["key"], r["window_start"].minute): r["count"] for r in rows} == {("a", 0): 2, ("b", 0): 1}


def test_streaming_custom_fold_window_emits_on_close(spark):
    """Streaming custom (opaque Python) window fold — the reference's
    WindowLogic path: rows buffer per (key, window) in the state store
    across micro-batches; the window folds and emits exactly once when
    the watermark passes its end."""
    ts = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731

    def concat_fold(pdf):
        pdf = pdf.sort_values("ts")  # ordered=True replay inside the window
        return pd.DataFrame(
            {
                "key": [pdf["key"].iloc[0]],
                "window_start": [pdf["window_start"].iloc[0]],
                "joined": ["-".join(pdf["tag"])],
            }
        )

    flow = Dataflow("s_cfold")
    s = op.input(
        "in",
        flow,
        TestingSource(
            # batch 1: two tagged rows in window [0,10); batch 2 pushes
            # the watermark (1 min delay) past 00:10 -> window closes
            [("a", ts(1), "x"), ("a", ts(2), "y"), ("a", ts(30), "z")],
            schema="k string, ts timestamp, tag string",
            streaming=True,
            files=2,
        ),
    )
    ks = op.key_on("key", s, "k")
    folded = win.fold_window(
        "w", ks, win.EventClock("ts", timedelta(minutes=1)),
        win.TumblingWindower(timedelta(minutes=10)),
        fold=concat_fold, schema="key string, window_start timestamp, joined string",
    )
    sink = MemorySink("s_cfold_out")
    op.output("out", folded, sink)
    rows = drain(spark, flow, "s_cfold_out", output_mode="append")
    got = [(r["key"], r["window_start"].minute, r["joined"]) for r in rows]
    # [0,10) closed and folded in ts order; [30,40) still open
    assert got == [("a", 0, "x-y")]


def test_stateful_batch_streaming_state_across_batches(spark):
    class RunningTotal(StatefulBatchLogic):
        """Per-key running sum, emitting the updated total per batch.

        Defined inside the test so cloudpickle ships it by value —
        executors don't have the tests/ dir on their path."""

        def __init__(self, snap):
            self.total = snap or 0

        def on_batch(self, pdf: pd.DataFrame):
            self.total += int(pdf["v"].sum())
            return pd.DataFrame({"total": [self.total]}), self.RETAIN

        def snapshot(self):
            return self.total

    flow = Dataflow("s_stateful")
    src = TestingSource(
        [("a", 1), ("b", 10), ("a", 2), ("a", 3), ("b", 20)],
        schema="k string, v long",
        streaming=True,
        files=5,  # one row per micro-batch -> state must persist across batches
    )
    s = op.input("in", flow, src)
    ks = op.key_on("key", s, "k")
    out = stateful_batch("totals", ks, RunningTotal, schema="key string, total long")
    sink = MemorySink("s_stateful_out")
    op.output("out", out, sink)
    rows = drain(spark, flow, "s_stateful_out")
    by_key = {}
    for r in rows:
        by_key.setdefault(r["key"], []).append(r["total"])
    for v in by_key.values():
        v.sort()
    # emissions accumulate: a sees 1,3,6 (in some batch grouping), b sees 10,30
    assert by_key["a"][-1] == 6 and by_key["b"][-1] == 30


def test_stateful_batch_batch_mode_on_eof(spark):
    class EmitAtEof(StatefulBatchLogic):
        def __init__(self, snap):
            self.n = 0

        def on_batch(self, pdf):
            self.n += len(pdf)
            return None, self.RETAIN

        def on_eof(self):
            return pd.DataFrame({"n": [self.n]}), self.DISCARD

    flow = Dataflow("b_stateful")
    s = op.input("in", flow, TestingSource([("a", 1), ("a", 2), ("b", 5)], schema="k string, v long"))
    ks = op.key_on("key", s, "k")
    out = stateful_batch("eof", ks, EmitAtEof, schema="key string, n long")
    got = {r["key"]: r["n"] for r in out.df.collect()}
    assert got == {"a": 2, "b": 1}


def test_stateful_batch_discard_completes(spark):
    class FirstOnly(StatefulBatchLogic):
        def __init__(self, snap):
            self.seen = snap or False

        def on_batch(self, pdf):
            if self.seen:
                return None, self.DISCARD
            self.seen = True
            return pdf.head(1)[["v"]], self.DISCARD  # complete after first batch

        def snapshot(self):
            return self.seen

    flow = Dataflow("s_discard")
    s = op.input("in", flow, TestingSource([("a", 1), ("a", 2)], schema="k string, v long", streaming=True, files=2))
    ks = op.key_on("key", s, "k")
    out = stateful_batch("first", ks, FirstOnly, schema="key string, v long")
    sink = MemorySink("s_discard_out")
    op.output("out", out, sink)
    rows = drain(spark, flow, "s_discard_out")
    # state discarded after first batch; second batch builds fresh logic
    # (fresh build also emits) -> one row per batch, both is_complete
    assert all(r["key"] == "a" for r in rows)
    assert len(rows) == 2


def test_stateful_batch_timers_notify(spark):
    """notify_at -> on_notify lifecycle: a 1s processing-time timeout
    flushes the buffered count (the reference's collect-with-timeout
    shape, operators/__init__.py:1106-1145)."""
    import time

    class FlushAfterTimeout(StatefulBatchLogic):
        def __init__(self, snap):
            self.n = snap or 0

        def on_batch(self, pdf):
            self.n += len(pdf)
            return None, self.RETAIN  # buffer silently

        def on_notify(self):
            return pd.DataFrame({"n": [self.n]}), self.DISCARD

        def notify_at(self):
            return timedelta(seconds=1)

        def snapshot(self):
            return self.n

    flow = Dataflow("s_timers")
    s = op.input("in", flow, TestingSource([("a", 1), ("a", 2)], schema="k string, v long", streaming=True))
    ks = op.key_on("key", s, "k")
    out = stateful_batch("flush", ks, FlushAfterTimeout, schema="key string, n long", timers="processing")
    q = (
        out.df.writeStream.format("memory")
        .queryName("s_timers_out")
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="bw_ckpt_"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM s_timers_out").collect()
            if rows:
                break
            time.sleep(1)
    finally:
        q.stop()
    assert [(r["key"], r["n"]) for r in rows] == [("a", 2)]


def test_stateful_map_stream_running_sum_across_batches(spark):
    """Reference stateful_map contract per row: mapper(state, v) ->
    (state, out); state persists across micro-batches per key."""
    from bytewax_spark.streaming import stateful_map_stream

    def running_sum(state, v):
        s = (state or 0) + v
        return s, s

    flow = Dataflow("smap_s")
    s = op.input(
        "in", flow,
        TestingSource(
            [("a", 1, 1), ("a", 2, 2), ("b", 3, 10), ("a", 4, 3)],
            schema="k string, seq long, v long",
            streaming=True,
            files=2,  # two micro-batches; state must carry across
        ),
    )
    ks = op.key_on("key", s, "k")
    out = stateful_map_stream("sum", ks, running_sum, value_col="v", out_col="total",
                              out_type="long", order_by="seq")
    sink = MemorySink("smap_s_out")
    op.output("out", out, sink)
    rows = drain(spark, flow, "smap_s_out")
    got = sorted((r["k"], r["seq"], r["total"]) for r in rows)
    assert got == [("a", 1, 1), ("a", 2, 3), ("a", 4, 6), ("b", 3, 10)]


def test_streaming_custom_fold_window_sliding(spark):
    """Streaming custom fold over SLIDING windows: multi-assigned rows
    buffer per (key, window); each window emits once on close."""
    ts = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731

    def sum_fold(pdf):
        return pd.DataFrame(
            {
                "key": [pdf["key"].iloc[0]],
                "window_start": [pdf["window_start"].iloc[0]],
                "total": [int(pdf["v"].sum())],
            }
        )

    flow = Dataflow("s_slide")
    s = op.input(
        "in", flow,
        TestingSource(
            [("a", ts(1), 1), ("a", ts(11), 2), ("a", ts(40), 100)],
            schema="k string, ts timestamp, v long",
            streaming=True,
            files=2,
        ),
    )
    ks = op.key_on("key", s, "k")
    folded = win.fold_window(
        "w", ks, win.EventClock("ts", timedelta(minutes=1)),
        win.SlidingWindower(timedelta(minutes=20), timedelta(minutes=10)),
        fold=sum_fold, schema="key string, window_start timestamp, total long",
    )
    sink = MemorySink("s_slide_out")
    op.output("out", folded, sink)
    rows = drain(spark, flow, "s_slide_out", output_mode="append")
    got = sorted((r["window_start"].minute, r["total"]) for r in rows)
    # windows closed by watermark 00:39: [-10,10)={1}, [0,20)={1,2},
    # [10,30)={2}; [30,50)/[40,60) still open
    assert got == [(0, 3), (10, 2), (50, 1)]


def test_collect_stream_size_trigger_batch_mode(spark):
    """collect_stream chunks per key at max_size and flushes the tail
    at EOF (reference collect's size/timeout batching)."""
    from bytewax_spark.streaming import collect_stream

    flow = Dataflow("coll_b")
    s = op.input(
        "in", flow,
        TestingSource([("a", i) for i in range(5)] + [("b", 9)], schema="k string, v long"),
    )
    ks = op.key_on("key", s, "k")
    out = collect_stream("c", ks, "v", timeout=timedelta(seconds=5), max_size=2, order_by="v")
    got = sorted((r["key"], tuple(r["values"])) for r in out.df.collect())
    assert got == [("a", (0, 1)), ("a", (2, 3)), ("a", (4,)), ("b", (9,))]


def test_collect_stream_timeout_flush_streaming(spark):
    """Streaming: size-triggered chunks emit immediately; the tail
    flushes when the processing-time timeout fires."""
    import time

    from bytewax_spark.streaming import collect_stream

    flow = Dataflow("coll_s")
    s = op.input(
        "in", flow,
        TestingSource([("a", 0), ("a", 1), ("a", 2)], schema="k string, v long", streaming=True),
    )
    ks = op.key_on("key", s, "k")
    out = collect_stream("c", ks, "v", timeout=timedelta(seconds=1), max_size=2, order_by="v")
    q = (
        out.df.writeStream.format("memory")
        .queryName("coll_s_out")
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="bw_ckpt_"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM coll_s_out").collect()
            if len(rows) >= 2:
                break
            time.sleep(1)
    finally:
        q.stop()
    got = sorted((r["key"], tuple(r["values"])) for r in rows)
    assert got == [("a", (0, 1)), ("a", (2,))]


def test_streaming_parquet_sink_exactly_once_layout(spark, tmp_path):
    flow = Dataflow("s_parquet")
    s = op.input("in", flow, TestingSource([(1,), (2,)], schema="x long", streaming=True))
    from bytewax_spark.sinks import ParquetSink

    out_dir = str(tmp_path / "out")
    op.output("sink", s, ParquetSink(out_dir))
    run_main(flow, checkpoint=str(tmp_path / "ckpt"))
    assert sorted(r["x"] for r in spark.read.parquet(out_dir).collect()) == [1, 2]


def test_streaming_custom_fold_session_merges_across_batches(spark):
    """Streaming custom fold over SESSION windows (reference on_merge,
    windowing.py:688-715): a row arriving in a later micro-batch within
    the gap extends/merges the open session; each merged session folds
    and emits exactly once when the watermark passes its end."""
    ts = lambda m: datetime(2024, 1, 1) + timedelta(minutes=m)  # noqa: E731

    def sum_fold(pdf):
        return pd.DataFrame(
            {
                "key": [pdf["key"].iloc[0]],
                "window_start": [pdf["window_start"].iloc[0]],
                "window_end": [pdf["window_end"].iloc[0]],
                "total": [int(pdf["v"].sum())],
            }
        )

    flow = Dataflow("s_sess")
    s = op.input(
        "in", flow,
        TestingSource(
            # batch 1: a@0, a@30, b@2; batch 2: a@5 (merges into the
            # a@0 session - 5min silence < 10min gap), a@90 (pushes the
            # watermark to 1:00, closing everything before it)
            [("a", ts(0), 1), ("a", ts(30), 4), ("b", ts(2), 10),
             ("a", ts(5), 2), ("a", ts(90), 100)],
            schema="k string, ts timestamp, v long",
            streaming=True,
            files=2,
        ),
    )
    ks = op.key_on("key", s, "k")
    folded = win.fold_window(
        "w", ks, win.EventClock("ts", timedelta(minutes=30)),
        win.SessionWindower(timedelta(minutes=10)),
        fold=sum_fold,
        schema="key string, window_start timestamp, window_end timestamp, total long",
    )
    sink = MemorySink("s_sess_out")
    op.output("out", folded, sink)
    rows = drain(spark, flow, "s_sess_out", output_mode="append")
    got = sorted(
        (r["key"], r["window_start"].minute, r["window_end"].minute, r["total"])
        for r in rows
    )
    # a: [0:00,0:15) total 1+2, [0:30,0:40) total 4; b: [0:02,0:12);
    # a@90's session [1:30,1:40) is still open at the final watermark
    assert got == [("a", 0, 15, 3), ("a", 30, 40, 4), ("b", 2, 12, 10)]


def test_stateful_flat_map_stream_deltas_with_discard(spark):
    """Reference stateful_flat_map: mapper(state, v) -> (state, outs);
    state=None discards the key (next item rebuilds from scratch).
    Emits the delta to the previous value; negative values reset."""
    from bytewax_spark.streaming import stateful_flat_map_stream

    def deltas(state, v):
        if v < 0:
            return None, []  # reset sentinel: discard state, emit nothing
        if state is None:
            return v, []  # first value after (re)build seeds, no emit
        return v, [v - state]

    flow = Dataflow("sfmap_s")
    s = op.input(
        "in", flow,
        TestingSource(
            # batch 1: 1, 3 (emit 2), -1 (discard); batch 2 rebuilds:
            # 5 seeds, 7 emits 2 — discard must survive the batch break
            [("a", 1, 1), ("a", 2, 3), ("a", 3, -1), ("a", 4, 5), ("a", 5, 7)],
            schema="k string, seq long, v long",
            streaming=True,
            files=2,
        ),
    )
    ks = op.key_on("key", s, "k")
    out = stateful_flat_map_stream("d", ks, deltas, value_col="v", out_col="delta",
                                   out_type="long", order_by="seq")
    sink = MemorySink("sfmap_s_out")
    op.output("out", out, sink)
    rows = drain(spark, flow, "sfmap_s_out")
    assert sorted(r["delta"] for r in rows) == [2, 2]
    assert all(r["key"] == "a" for r in rows)


def test_close_on_idle_flushes_open_windows(spark):
    """Pure-streaming idle topology (reference idle-advancing
    watermark, windowing.py:230-310): the data watermark never passes
    the window end — only the wall-clock close_on_idle timer closes
    it. Without close_on_idle this query would hold the window open
    forever."""
    import time

    ts = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731

    def count_fold(pdf):
        return pd.DataFrame(
            {"key": [pdf["key"].iloc[0]], "n": [len(pdf)]}
        )

    flow = Dataflow("s_idle")
    s = op.input(
        "in",
        flow,
        TestingSource(
            [("a", ts(1)), ("a", ts(2))],  # one window, no later event
            schema="k string, ts timestamp",
            streaming=True,
        ),
    )
    ks = op.key_on("key", s, "k")
    folded = win.fold_window(
        "w", ks,
        win.EventClock("ts", timedelta(minutes=1), close_on_idle=timedelta(seconds=1)),
        win.TumblingWindower(timedelta(minutes=10)),
        fold=count_fold, schema="key string, n long",
    )
    q = (
        folded.df.writeStream.format("memory")
        .queryName("s_idle_out")
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="bw_ckpt_"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        got = []
        for _ in range(60):  # up to 30 s
            got = [(r["key"], r["n"]) for r in spark.sql("SELECT * FROM s_idle_out").collect()]
            if got:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert got == [("a", 2)]


def test_close_on_idle_flushes_open_session(spark):
    """Same idle-flush contract for the session fold path."""
    import time

    def sess_fold(pdf):
        return pd.DataFrame({"key": [pdf["key"].iloc[0]], "n": [len(pdf)]})

    flow = Dataflow("s_idle_sess")
    s = op.input(
        "in",
        flow,
        TestingSource(
            [("a", datetime(2024, 1, 1, 0, 1)), ("a", datetime(2024, 1, 1, 0, 2))],
            schema="k string, ts timestamp",
            streaming=True,
        ),
    )
    ks = op.key_on("key", s, "k")
    folded = win.fold_window(
        "w", ks,
        win.EventClock("ts", timedelta(minutes=1), close_on_idle=timedelta(seconds=1)),
        win.SessionWindower(timedelta(minutes=10)),
        fold=sess_fold, schema="key string, n long",
    )
    q = (
        folded.df.writeStream.format("memory")
        .queryName("s_idle_sess_out")
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="bw_ckpt_"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        got = []
        for _ in range(60):
            got = [(r["key"], r["n"]) for r in spark.sql("SELECT * FROM s_idle_sess_out").collect()]
            if got:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert got == [("a", 2)]


def test_heavy_hitters_stream_running_estimates(spark):
    """Space-saving over micro-batches: small capacity on a skewed
    stream keeps the true heavy hitters with spec-guaranteed bounds
    (count_est - err_bound <= true <= count_est); state persists
    across batches."""
    from bytewax_spark.streaming import heavy_hitters_stream

    items = (["hot"] * 12 + ["warm"] * 6 + ["c1", "c2", "c3", "c4", "c5", "c6"])
    true = {x: items.count(x) for x in set(items)}
    flow = Dataflow("s_hh")
    src = TestingSource(
        [("p0", it) for it in items], schema="part string, item string",
        streaming=True, files=4,
    )
    ks = op.key_on("key", op.input("in", flow, src), "part")
    out = heavy_hitters_stream("hh", ks, "item", k=3, capacity=4)
    sink = MemorySink("s_hh_out")
    op.output("out", out, sink)
    rows = drain(spark, flow, "s_hh_out")
    assert rows, "expected running emissions"
    assert "hot" in {r["item"] for r in rows}
    # the algorithm invariant holds at EVERY emission (running counts
    # only see a prefix of the stream, so only the lower bound is
    # comparable to full-stream truth): count_est - err_bound <= true
    for r in rows:
        assert r["count_est"] - r["err_bound"] <= true.get(r["item"], 0)
    # 'hot' is resident from batch 1 and never evicted (capacity evicts
    # the MIN counter): its final count is exact with zero error
    hot_rows = [r for r in rows if r["item"] == "hot"]
    assert max(r["count_est"] for r in hot_rows) == true["hot"]
    assert all(r["err_bound"] == 0 for r in hot_rows)


def test_heavy_hitters_batch_exact_when_capacity_suffices(spark):
    from bytewax_spark.streaming import heavy_hitters_stream

    items = ["a"] * 5 + ["b"] * 3 + ["c"] * 2 + ["d"]
    flow = Dataflow("b_hh")
    src = TestingSource([("p0", it) for it in items], schema="part string, item string")
    ks = op.key_on("key", op.input("in", flow, src), "part")
    out = heavy_hitters_stream("hh", ks, "item", k=3, capacity=16)
    got = [(r["item"], r["count_est"], r["err_bound"]) for r in out.df.collect()]
    assert got == [("a", 5, 0), ("b", 3, 0), ("c", 2, 0)]


def test_heavy_hitters_capacity_validation(spark):
    from bytewax_spark.streaming import heavy_hitters_stream

    flow = Dataflow("v_hh")
    src = TestingSource([("p", "x")], schema="part string, item string")
    ks = op.key_on("key", op.input("in", flow, src), "part")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="capacity"):
        heavy_hitters_stream("hh", ks, "item", k=8, capacity=4)


def test_interval_join_stream_watermarked(spark):
    """Stream-stream interval join: purchases match clicks in the
    preceding 30 minutes, state bounded by watermark + range width."""
    from bytewax_spark.streaming import interval_join_stream

    ts = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    flow = Dataflow("s_ij")
    clicks = op.key_on(
        "kc",
        op.input(
            "clicks",
            flow,
            TestingSource(
                [(1, ts(0), "c0"), (1, ts(20), "c20"), (2, ts(5), "c5")],
                schema="cuid long, cts timestamp, click string",
                streaming=True,
            ),
        ),
        "cuid",
    )
    buys = op.key_on(
        "kb",
        op.input(
            "buys",
            flow,
            TestingSource(
                [(1, ts(25), "b25"), (2, ts(50), "b50")],
                schema="buid long, bts timestamp, buy string",
                streaming=True,
            ),
        ),
        "buid",
    )
    joined = interval_join_stream(
        "ij",
        buys,
        clicks,
        left_ts="bts",
        right_ts="cts",
        lower=timedelta(minutes=-30),
        upper=timedelta(minutes=0),
        watermark=timedelta(minutes=10),
    )
    sink = MemorySink("s_ij_out")
    op.output("out", joined, sink)
    rows = drain(spark, flow, "s_ij_out")
    got = sorted((r["key"], r["buy"], r["click"]) for r in rows)
    # user 1 buy@25 matches clicks at 0 and 20 (within 30 min before);
    # user 2 buy@50 has no click in [20, 50]
    assert got == [(1, "b25", "c0"), (1, "b25", "c20")]


def _click_buy_streams(flow, click_ts: str, buy_ts: str):
    ts = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    clicks = TestingSource(
        [(1, ts(0), "c0"), (1, ts(20), "c20"), (2, ts(5), "c5")],
        schema=f"cuid long, `{click_ts}` timestamp, click string",
        streaming=True,
    )
    buys = TestingSource(
        [(1, ts(25), "b25"), (2, ts(50), "b50")],
        schema=f"buid long, `{buy_ts}` timestamp, buy string",
        streaming=True,
    )
    return (
        op.key_on("kc", op.input("clicks", flow, clicks), "cuid"),
        op.key_on("kb", op.input("buys", flow, buys), "buid"),
    )


def test_interval_join_stream_ts_names_need_quoting(spark):
    """Event-time columns whose names are not bare SQL identifiers join
    like any other."""
    from bytewax_spark.streaming import interval_join_stream

    flow = Dataflow("s_ij_quoted")
    clicks, buys = _click_buy_streams(flow, "click ts", "buy ts")
    joined = interval_join_stream(
        "ij", buys, clicks, left_ts="buy ts", right_ts="click ts",
        lower=timedelta(minutes=-30), upper=timedelta(0), watermark=timedelta(minutes=10),
    )
    op.output("out", joined, MemorySink("s_ij_quoted_out"))
    rows = drain(spark, flow, "s_ij_quoted_out")
    assert sorted((r["key"], r["buy"], r["click"]) for r in rows) == [(1, "b25", "c0"), (1, "b25", "c20")]


def test_interval_join_stream_subsecond_watermark(spark):
    """A 1.5 s watermark stays 1.5 s on both sides (was truncated to 1 s)."""
    from bytewax_spark.streaming import interval_join_stream

    flow = Dataflow("s_ij_wm")
    clicks, buys = _click_buy_streams(flow, "cts", "bts")
    joined = interval_join_stream(
        "ij", buys, clicks, left_ts="bts", right_ts="cts",
        lower=timedelta(minutes=-30), upper=timedelta(0), watermark=timedelta(seconds=1.5),
    )
    schema = joined.df.schema
    assert schema["bts"].metadata["spark.watermarkDelayMs"] == 1500
    assert schema["cts"].metadata["spark.watermarkDelayMs"] == 1500


def test_interval_join_stream_validates(spark):
    from bytewax_spark.streaming import interval_join_stream

    flow = Dataflow("s_ij_val")
    a = op.key_on("ka", op.input("a", flow, TestingSource([(1, datetime(2024, 1, 1), 1.0)], schema="k long, ts timestamp, v double", streaming=True)), "k")
    b = op.key_on("kb", op.input("b", flow, TestingSource([(1, datetime(2024, 1, 1), 2.0)], schema="k long, ts2 timestamp, v double", streaming=True)), "k")
    with pytest.raises(ValueError, match="overlap"):
        interval_join_stream("ij1", a, b, "ts", "ts2", timedelta(0), timedelta(minutes=1), timedelta(minutes=1))
    with pytest.raises(ValueError, match="lower <= upper"):
        c = op.key_on("kc", op.input("c", flow, TestingSource([(1, datetime(2024, 1, 1), "x")], schema="k long, ts3 timestamp, w string", streaming=True)), "k")
        interval_join_stream("ij2", a, c, "ts", "ts3", timedelta(minutes=2), timedelta(minutes=1), timedelta(minutes=1))


def test_distinct_count_stream_matches_batch_sketch(spark):
    """Streaming HLL over micro-batches converges to exactly the batch
    hll_build/hll_estimate over the same rows (same hash, same
    estimator), and the running estimates are monotone non-decreasing
    in distincts seen."""
    from bytewax_spark.functions import sketches as sk
    from bytewax_spark.streaming import distinct_count_stream

    items = [f"u{i}" for i in range(300)] + [f"u{i}" for i in range(100)]
    flow = Dataflow("s_hll")
    src = TestingSource(
        [("p0", it) for it in items], schema="part string, item string",
        streaming=True, files=4,
    )
    ks = op.key_on("key", op.input("in", flow, src), "part")
    out = distinct_count_stream("dc", ks, "item", p=10)
    sink = MemorySink("s_hll_out")
    op.output("out", out, sink)
    rows = drain(spark, flow, "s_hll_out")
    assert rows, "expected running emissions"
    batch_df = spark.createDataFrame([(it,) for it in items], "item string")
    want = sk.hll_estimate(sk.hll_build(batch_df, "item", p=10), p=10).collect()[0][
        "est"
    ]
    assert rows[-1]["est"] == want
    # ~300 true distincts at p=10 -> well within 10%
    assert abs(rows[-1]["est"] - 300) / 300 < 0.10


def test_distinct_count_batch_mode_single_emit(spark):
    from bytewax_spark.streaming import distinct_count_stream

    items = ["a", "b", "c", "a", "b", "a"]
    flow = Dataflow("b_hll")
    src = TestingSource([("p0", it) for it in items], schema="part string, item string")
    ks = op.key_on("key", op.input("in", flow, src), "part")
    out = distinct_count_stream("dc", ks, "item", p=10)
    got = out.df.collect()
    assert len(got) == 1
    # linear-counting regime: tiny cardinalities are exact
    assert got[0]["est"] == 3


def test_distinct_count_stream_p_validation(spark):
    from bytewax_spark.streaming import distinct_count_stream

    flow = Dataflow("v_hll")
    src = TestingSource([("p", "x")], schema="part string, item string")
    ks = op.key_on("key", op.input("in", flow, src), "part")
    with pytest.raises(ValueError, match="p must be"):
        distinct_count_stream("dc", ks, "item", p=2)


def test_frequency_cap_stream_caps_repeats(spark):
    """Items pass until their running per-key count reaches the cap;
    state persists across micro-batches (12 'hot' in 4 files still
    yields exactly cap)."""
    from bytewax_spark.streaming import frequency_cap_stream

    items = ["hot"] * 12 + ["cold"] * 2
    flow = Dataflow("s_fc")
    src = TestingSource(
        [("p0", it, i) for i, it in enumerate(items)],
        schema="part string, item string, seq long",
        streaming=True, files=4,
    )
    ks = op.key_on("key", op.input("in", flow, src), "part")
    out = frequency_cap_stream("fc", ks, "item", cap=3, order_by="seq")
    sink = MemorySink("s_fc_out")
    op.output("out", out, sink)
    rows = drain(spark, flow, "s_fc_out")
    got = [r["item"] for r in rows]
    assert got.count("hot") == 3
    assert got.count("cold") == 2


def test_frequency_cap_batch_deterministic_order(spark):
    from bytewax_spark.streaming import frequency_cap_stream

    rows = [("p0", "a", i) for i in range(10)] + [("p0", "b", 100)]
    flow = Dataflow("b_fc")
    src = TestingSource(rows, schema="part string, item string, seq long")
    ks = op.key_on("key", op.input("in", flow, src), "part")
    out = frequency_cap_stream("fc", ks, "item", cap=2, order_by="seq")
    got = sorted((r["item"], r["seq"]) for r in out.df.collect())
    # first two 'a' by seq survive, 'b' under cap
    assert got == [("a", 0), ("a", 1), ("b", 100)]


def test_frequency_cap_validation(spark):
    from bytewax_spark.streaming import frequency_cap_stream

    flow = Dataflow("v_fc")
    src = TestingSource([("p", "x", 0)], schema="part string, item string, seq long")
    ks = op.key_on("key", op.input("in", flow, src), "part")
    with pytest.raises(ValueError, match="cap"):
        frequency_cap_stream("fc", ks, "item", cap=0)


def test_stateful_batch_event_time_timer(spark):
    """timers='event': notify_at returning a DATETIME arms an
    event-time timeout that fires when the WATERMARK (set by the
    caller upstream) passes it — late-data-safe flushing keyed to the
    data's clock, not the wall clock. A later micro-batch's events
    advance the watermark past the armed timestamp and on_notify
    flushes."""
    import time

    from bytewax_spark.dataflow import Stream

    base = datetime(2024, 1, 1, 0, 0, 0)

    class FlushAtEventTime(StatefulBatchLogic):
        def __init__(self, snap):
            self.n, self.armed = snap or (0, None)

        def on_batch(self, pdf):
            self.n += len(pdf)
            if self.armed is None:
                # flush when the event clock passes base + 30s
                self.armed = base + timedelta(seconds=30)
            return None, self.RETAIN

        def on_notify(self):
            return pd.DataFrame({"n": [self.n]}), self.DISCARD

        def notify_at(self):
            return self.armed

        def snapshot(self):
            return (self.n, self.armed)

    flow = Dataflow("s_evt")
    rows = [("a", base + timedelta(seconds=s)) for s in (0, 5, 120, 130)]
    src = TestingSource(rows, schema="k string, ts timestamp", streaming=True, files=2)
    s = op.input("in", flow, src)
    wm = Stream(flow, "wm", s.df.withWatermark("ts", "10 seconds"))
    ks = op.key_on("key", wm, "k")
    out = stateful_batch(
        "flush", ks, FlushAtEventTime, schema="key string, n long", timers="event"
    )
    q = (
        out.df.writeStream.format("memory")
        .queryName("s_evt_out")
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="bw_ckpt_"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        got = []
        while time.time() < deadline:
            got = [tuple(r) for r in spark.sql("select * from s_evt_out").collect()]
            if got:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    # all 4 rows were buffered before the watermark passed base+30s
    assert got == [("a", 4)]


def test_stateful_batch_event_timer_below_watermark_fires_now(spark):
    """A notify_at already at or below the watermark when it is armed
    (here a late batch's minimum event time) runs on_notify in the same
    call: Spark cannot arm that timer (INVALID_TIMEOUT_TIMESTAMP)."""
    from bytewax_spark.dataflow import Stream

    base = datetime(2024, 1, 1)

    class FlushAtBatchMin(StatefulBatchLogic):
        def __init__(self, snap):
            self.n, self.at = snap or (0, None)

        def on_batch(self, pdf):
            self.n += len(pdf)
            self.at = pdf["ts"].min().to_pydatetime()
            return None, self.RETAIN

        def on_notify(self):
            return pd.DataFrame({"n": [self.n]}), self.DISCARD

        def notify_at(self):
            return self.at

        def snapshot(self):
            return (self.n, self.at)

    flow = Dataflow("s_evt_past")
    # batch 1 (100 s, 110 s) moves the watermark to 100 s; batch 2's row
    # at 50 s arms a timer 50 s below it
    rows = [("a", base + timedelta(seconds=s)) for s in (100, 110, 50)]
    src = TestingSource(rows, schema="k string, ts timestamp", streaming=True, files=2)
    wm = Stream(flow, "wm", op.input("in", flow, src).df.withWatermark("ts", "10 seconds"))
    out = stateful_batch(
        "flush", op.key_on("key", wm, "k"), FlushAtBatchMin, schema="key string, n long", timers="event"
    )
    op.output("out", out, MemorySink("s_evt_past_out"))
    got = [(r["key"], r["n"]) for r in drain(spark, flow, "s_evt_past_out")]
    assert got == [("a", 3)]


def test_driver_reads_naive_notify_at_as_utc(monkeypatch):
    """The session time zone is UTC, so a naive notify_at datetime is
    UTC wall time, whatever the worker's local zone."""
    import time

    from bytewax_spark.streaming import _epoch_ms

    monkeypatch.setenv("TZ", "Asia/Tokyo")
    time.tzset()
    try:
        naive = datetime(2024, 1, 1)
        assert int(naive.timestamp() * 1000) != 1_704_067_200_000  # local zone is really +09:00
        assert _epoch_ms(naive) == 1_704_067_200_000
        assert _epoch_ms(datetime(2024, 1, 1, 9, tzinfo=timezone(timedelta(hours=9)))) == 1_704_067_200_000
    finally:
        monkeypatch.undo()
        time.tzset()


# ---------------------------------------------------------------------------
# funnel_stream
# ---------------------------------------------------------------------------


def test_funnel_stream_batch_matches_batch_funnel(spark):
    """Batch-mode funnel_stream advancement counts equal the batch
    behavior.funnel over the same (ts-complete per key) rows."""
    from bytewax_spark.functions import behavior as bh
    from bytewax_spark.streaming import funnel_stream

    from bytewax_spark.sources import ParquetSource

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    flow = Dataflow("b_funnel")
    src = ParquetSource("/root/testdata/sf0.001/events.parquet")
    ks = op.key_on("key", op.input("in", flow, src), "user_id")
    out = funnel_stream(
        "fn", ks, "ts", "event_type", ["view", "click", "purchase"],
        tiebreak_col="event_id",
    )
    got = out.df.groupBy("step").count().collect()
    got_counts = {r["step"]: r["count"] for r in got}
    want = {
        r["step"]: r["users"]
        for r in bh.funnel(ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]).collect()
        if r["users"] > 0
    }
    assert got_counts == want


def test_funnel_stream_state_across_microbatches(spark):
    """A user whose steps arrive in different micro-batches still
    converts; completion discards state (no further emissions)."""
    from bytewax_spark.streaming import funnel_stream

    rows = [
        ("u1", "2024-01-01 00:00:00", "view"),
        ("u1", "2024-01-01 01:00:00", "click"),
        ("u1", "2024-01-01 02:00:00", "buy"),
        ("u1", "2024-01-01 03:00:00", "view"),   # after completion: ignored
        ("u2", "2024-01-01 00:30:00", "click"),  # step 2 before step 1: never advances
    ]
    flow = Dataflow("s_funnel")
    src = TestingSource(
        [(u, ts, ty) for u, ts, ty in rows],
        schema="user string, ts string, event_type string",
        streaming=True, files=4,
    )
    ks = op.key_on("key", op.input("in", flow, src), "user")
    out = funnel_stream("fn", ks, "ts", "event_type", ["view", "click", "buy"])
    sink = MemorySink("s_funnel_out")
    op.output("out", out, sink)
    got = drain(spark, flow, "s_funnel_out")
    trail = sorted((r["key"], r["step_idx"], r["step"]) for r in got)
    assert trail == [("u1", 1, "view"), ("u1", 2, "click"), ("u1", 3, "buy")]


def test_funnel_stream_out_of_order_within_batch_ok(spark):
    """(ts, tiebreak) replay inside a batch: a click physically before
    its view in the file still counts because its ts is later."""
    from bytewax_spark.streaming import funnel_stream

    flow = Dataflow("o_funnel")
    src = TestingSource(
        [
            ("u1", "2024-01-01 05:00:00", "click", 2),
            ("u1", "2024-01-01 00:00:00", "view", 1),
        ],
        schema="user string, ts string, event_type string, event_id long",
    )
    ks = op.key_on("key", op.input("in", flow, src), "user")
    out = funnel_stream("fn", ks, "ts", "event_type", ["view", "click"], tiebreak_col="event_id")
    got = sorted((r["step_idx"], r["step"]) for r in out.df.collect())
    assert got == [(1, "view"), (2, "click")]


def test_funnel_stream_validates_steps(spark):
    from bytewax_spark.streaming import funnel_stream

    flow = Dataflow("v_funnel")
    src = TestingSource([("u", "t", "x")], schema="user string, ts string, event_type string")
    ks = op.key_on("key", op.input("in", flow, src), "user")
    with pytest.raises(ValueError, match="at least one step"):
        funnel_stream("fn", ks, "ts", "event_type", [])


# ---------------------------------------------------------------------------
# zscore_anomaly_stream
# ---------------------------------------------------------------------------


def test_zscore_anomaly_flags_outlier(spark):
    from bytewax_spark.streaming import zscore_anomaly_stream

    # 20 values around 10 +/- 1, then a wild 100
    vals = [10.0 + (i % 3) - 1 for i in range(20)] + [100.0]
    flow = Dataflow("b_anom")
    src = TestingSource(
        [("s1", float(v), i) for i, v in enumerate(vals)],
        schema="sensor string, v double, seq long",
    )
    ks = op.key_on("key", op.input("in", flow, src), "sensor")
    out = zscore_anomaly_stream("an", ks, "v", threshold=3.0, order_by="seq")
    got = out.df.collect()
    assert len(got) == 1
    assert got[0]["v"] == 100.0 and got[0]["z"] > 3.0


def test_zscore_anomaly_cold_start_quiet(spark):
    from bytewax_spark.streaming import zscore_anomaly_stream

    # huge jump inside the first min_n values: no alert (cold start)
    flow = Dataflow("b_anom2")
    src = TestingSource(
        [("s", 1.0, 0), ("s", 2.0, 1), ("s", 500.0, 2)],
        schema="sensor string, v double, seq long",
    )
    ks = op.key_on("key", op.input("in", flow, src), "sensor")
    out = zscore_anomaly_stream("an", ks, "v", min_n=10, order_by="seq")
    assert out.df.count() == 0


def test_zscore_anomaly_state_across_microbatches(spark):
    """Warmup arrives in earlier micro-batches; the outlier in a later
    one is still scored against the accumulated state."""
    from bytewax_spark.streaming import zscore_anomaly_stream

    vals = [(f"s", 10.0 + (i % 3) - 1, i) for i in range(20)] + [("s", 100.0, 20)]
    flow = Dataflow("s_anom")
    src = TestingSource(
        vals, schema="sensor string, v double, seq long",
        streaming=True, files=4,
    )
    ks = op.key_on("key", op.input("in", flow, src), "sensor")
    out = zscore_anomaly_stream("an", ks, "v", order_by="seq")
    sink = MemorySink("s_anom_out")
    op.output("out", out, sink)
    got = drain(spark, flow, "s_anom_out")
    assert [r["v"] for r in got] == [100.0]


def test_zscore_anomaly_validates(spark):
    from bytewax_spark.streaming import zscore_anomaly_stream

    flow = Dataflow("v_anom")
    src = TestingSource([("s", 1.0)], schema="sensor string, v double")
    ks = op.key_on("key", op.input("in", flow, src), "sensor")
    with pytest.raises(ValueError):
        zscore_anomaly_stream("an", ks, "v", threshold=0)


def test_funnel_stream_equal_ts_tie_credits_all_steps(spark):
    """A step-i event SHARING a timestamp with the step-(i-1) event is
    credited even when a tiebreak would sort it earlier — the batch
    operator's ts-only >= rule, now matched by scanning equal-ts
    groups (a row-at-a-time pointer scan silently skipped it)."""
    from bytewax_spark.streaming import funnel_stream

    flow = Dataflow("tie_funnel")
    # click sorts BEFORE view on (ts, event_id) but shares the ts
    src = TestingSource(
        [
            ("u1", "2024-01-01 00:00:00", "click", 1),
            ("u1", "2024-01-01 00:00:00", "view", 2),
        ],
        schema="user string, ts string, event_type string, event_id long",
    )
    ks = op.key_on("key", op.input("in", flow, src), "user")
    out = funnel_stream(
        "fn", ks, "ts", "event_type", ["view", "click"], tiebreak_col="event_id"
    )
    got = sorted((r["step_idx"], r["step"]) for r in out.df.collect())
    assert got == [(1, "view"), (2, "click")]


def test_dedup_ttl_suppresses_within_ttl_and_reemits_after(spark):
    from datetime import datetime, timedelta

    from bytewax_spark.streaming import dedup_ttl_stream

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        ("u", "alert_a", t0),                              # emit
        ("u", "alert_a", t0 + timedelta(minutes=5)),       # suppressed
        ("u", "alert_b", t0 + timedelta(minutes=6)),       # emit (other item)
        ("u", "alert_a", t0 + timedelta(minutes=61)),      # TTL passed -> emit
    ]
    flow = Dataflow("b_ttl")
    src = TestingSource(rows, schema="user string, item string, ts timestamp")
    ks = op.key_on("key", op.input("in", flow, src), "user")
    out = dedup_ttl_stream("dd", ks, "item", "ts", timedelta(hours=1))
    got = sorted((r["item"], r["ts"]) for r in out.df.collect())
    assert got == [
        ("alert_a", t0),
        ("alert_a", t0 + timedelta(minutes=61)),
        ("alert_b", t0 + timedelta(minutes=6)),
    ]


def test_dedup_ttl_state_is_pruned(spark):
    from datetime import datetime, timedelta

    from bytewax_spark.streaming import dedup_ttl_stream

    # direct logic-level check: items older than ttl behind the max
    # seen timestamp leave the snapshot
    import pandas as pd

    from bytewax_spark.streaming import StatefulBatchLogic  # noqa: F401

    t0 = datetime(2024, 1, 1)
    rows = [("u", f"it{i}", t0 + timedelta(minutes=i)) for i in range(5)]
    rows.append(("u", "late", t0 + timedelta(hours=10)))
    flow = Dataflow("b_ttl2")
    src = TestingSource(rows, schema="user string, item string, ts timestamp")
    ks = op.key_on("key", op.input("in", flow, src), "user")
    out = dedup_ttl_stream("dd", ks, "item", "ts", timedelta(hours=1))
    # every row is an emission (all distinct items); the pruning is
    # exercised by the 10h-later row forcing the floor forward
    assert out.df.count() == 6


def test_dedup_ttl_rejects_bad_ttl(spark):
    from datetime import timedelta

    from bytewax_spark.streaming import dedup_ttl_stream

    flow = Dataflow("b_ttl3")
    src = TestingSource([("u", "x", None)], schema="user string, item string, ts timestamp")
    ks = op.key_on("key", op.input("in", flow, src), "user")
    with pytest.raises(ValueError, match="ttl"):
        dedup_ttl_stream("dd", ks, "item", "ts", timedelta(0))


def test_moments_stream_batch_equals_batch_build(spark, sf_dir):
    from bytewax_spark.functions import sketches as sk
    from bytewax_spark.streaming import moments_stream

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    flow = Dataflow("b_mom")
    ks = op.key_on("key", op.input("in", flow, ev), "event_type")
    got = {
        r["key"]: r
        for r in moments_stream("m", ks, "value", 0.0, 512.0, k=4).df.collect()
    }
    want = {
        r["event_type"]: r
        for r in sk.moments_build(
            ev, "value", 0.0, 512.0, k=4, group_cols=["event_type"]
        ).collect()
    }
    assert set(got) == set(want)
    for t, w in want.items():
        g = got[t]
        assert (g["n"], g["smin"], g["smax"]) == (w["n"], w["smin"], w["smax"])
        for i in range(1, 5):
            assert g[f"m{i}"] == str(w[f"m{i}"]), (t, i)


def test_moments_stream_state_across_microbatches(spark):
    from bytewax_spark.streaming import moments_stream

    rows = [("k", float(v)) for v in range(100)]
    flow = Dataflow("s_mom")
    src = TestingSource(
        rows, schema="k string, v double", streaming=True, files=4
    )
    ks = op.key_on("key", op.input("in", flow, src), "k")
    out = moments_stream("m", ks, "v", 0.0, 100.0, k=2)
    sink = MemorySink("s_mom_out")
    op.output("out", out, sink)
    got = drain(spark, flow, "s_mom_out")
    # running emissions: the LAST one holds the full fold
    last = got[-1]
    assert last["n"] == 100
    total = sum(
        int((v / 100.0) * (2 * (1 << 20)) + 0.5) - (1 << 20) for v in range(100)
    )
    assert last["m1"] == str(total)


def test_moments_stream_validates(spark):
    from bytewax_spark.streaming import moments_stream

    flow = Dataflow("b_momv")
    src = TestingSource([("k", 1.0)], schema="k string, v double")
    ks = op.key_on("key", op.input("in", flow, src), "k")
    with pytest.raises(ValueError):
        moments_stream("m", ks, "v", 5.0, 5.0)


def test_sample_stream_batch_equals_bottom_k(spark, sf_dir):
    from bytewax_spark.functions.text import hash64 as h64
    from bytewax_spark.streaming import sample_stream

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    flow = Dataflow("b_samp")
    proj = op.map(
        "proj", op.input("in", flow, ev), {"event_type": "event_type", "user_id": "user_id"}
    )
    ks = op.key_on("key", proj, "event_type")
    got = sample_stream("s", ks, "user_id", n=8).df.collect()
    # batch ground truth: per type, the 8 distinct users with lowest hash
    want = (
        ev.select("event_type", "user_id")
        .distinct()
        .withColumn("_h", h64(F.col("user_id").cast("string")))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("_h", "user_id")
    want_rows = {
        (r["event_type"], r["user_id"], r["rk"])
        for r in want.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 8)
        .collect()
    }
    assert {(r["key"], r["user_id"], r["rk"]) for r in got} == want_rows


def test_sample_stream_state_bounded_across_batches(spark):
    from bytewax_spark.streaming import sample_stream

    rows = [("k", i) for i in range(200)]
    flow = Dataflow("s_samp")
    src = TestingSource(rows, schema="k string, item long", streaming=True, files=5)
    ks = op.key_on("key", op.input("in", flow, src), "k")
    out = sample_stream("s", ks, "item", n=4)
    sink = MemorySink("s_samp_out")
    op.output("out", out, sink)
    got = drain(spark, flow, "s_samp_out")
    # every emission is <= 4 rows; the final sample has exactly 4
    assert got, "no emissions"
    last_rks = [r["rk"] for r in got if r["rk"] is not None][-4:]
    assert sorted(last_rks) == [1, 2, 3, 4]


def test_sample_stream_validates(spark):
    from bytewax_spark.streaming import sample_stream

    flow = Dataflow("b_sampv")
    src = TestingSource([("k", 1)], schema="k string, item long")
    ks = op.key_on("key", op.input("in", flow, src), "k")
    with pytest.raises(ValueError):
        sample_stream("s", ks, "item", n=0)


def test_ewma_stream_batch_equals_batch_fold(spark, sf_dir):
    from pyspark.sql import functions as F

    from bytewax_spark.functions.timeseries import ewma
    from bytewax_spark.streaming import ewma_stream

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            "user_id", "ts", "event_id",
            F.floor(F.col("value") * 1_000_000).cast("long").alias("v"),
        )
    )
    flow = Dataflow("b_ewma")
    ks = op.key_on("key", op.input("in", flow, ev), "user_id", key_col="user_id")
    got = {
        r["user_id"]: (r["n"], r["ewma_micro"])
        for r in ewma_stream("e", ks, "v", "ts", "event_id").df.collect()
    }
    want = {
        r["user_id"]: (r["n"], r["ewma_micro"])
        for r in ewma(ev, ["user_id"], "v", "ts", "event_id").collect()
    }
    assert got == want


def test_ewma_stream_state_across_microbatches(spark):
    from datetime import datetime

    from bytewax_spark.streaming import ewma_stream

    rows = [("k", datetime(2024, 1, 1, 0, i), i, 80) for i in range(4)] + [
        ("k", datetime(2024, 1, 1, 1, 0), 99, 160)
    ]
    flow = Dataflow("s_ewma")
    src = TestingSource(
        rows, schema="k string, ts timestamp, i long, v long",
        streaming=True, files=3,
    )
    ks = op.key_on("key", op.input("in", flow, src), "k")
    out = ewma_stream("e", ks, "v", "ts", "i", num=1, den=2)
    sink = MemorySink("s_ewma_out")
    op.output("out", out, sink)
    got = drain(spark, flow, "s_ewma_out")
    last = got[-1]
    # seed 80, three more 80s keep it at 80; then (160 + 80) div 2 = 120
    assert last["n"] == 5 and last["ewma_micro"] == 120


def test_ewma_fold_hand_computed(spark):
    from datetime import datetime

    from bytewax_spark.functions.timeseries import ewma

    rows = [
        ("k", datetime(2024, 1, 1, 0), 1, 100),
        ("k", datetime(2024, 1, 1, 1), 2, 0),
        ("k", datetime(2024, 1, 1, 2), 3, 0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, i long, x long")
    # alpha 1/4: 100 -> (0 + 3*100) div 4 = 75 -> (0 + 3*75) div 4 = 56
    row = ewma(df, ["k"], "x", "ts", "i", num=1, den=4).collect()[0]
    assert row.n == 3 and row.ewma_micro == 56


def test_ewma_truncates_toward_zero_on_negatives(spark):
    from datetime import datetime

    from bytewax_spark.functions.timeseries import ewma
    from bytewax_spark.streaming import ewma_stream

    rows = [
        ("k", datetime(2024, 1, 1, 0), 1, -100),
        ("k", datetime(2024, 1, 1, 1), 2, -1),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, i long, x long")
    # (-1 + 7*-100) div 8 = -701 div 8 = -87 (trunc), floor would give -88
    row = ewma(df, ["k"], "x", "ts", "i").collect()[0]
    assert row.ewma_micro == -87
    flow = Dataflow("b_ewman")
    ks = op.key_on("key", op.input("in", flow, df), "k")
    srow = ewma_stream("e", ks, "x", "ts", "i").df.collect()[0]
    assert srow["ewma_micro"] == -87


def test_holt_stream_batch_equals_batch_fold(spark, sf_dir):
    from pyspark.sql import functions as F

    from bytewax_spark.functions.timeseries import holt_linear
    from bytewax_spark.streaming import holt_stream

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            "user_id", "ts", "event_id",
            F.floor(F.col("value") * 1_000_000).cast("long").alias("v"),
        )
    )
    flow = Dataflow("b_holt")
    ks = op.key_on("key", op.input("in", flow, ev), "user_id", key_col="user_id")
    got = {
        r["user_id"]: (r["n"], r["level_micro"], r["trend_micro"])
        for r in holt_stream("h", ks, "v", "ts", "event_id").df.collect()
    }
    want = {
        r["user_id"]: (r["n"], r["level_micro"], r["trend_micro"])
        for r in holt_linear(ev, ["user_id"], "v", "ts", "event_id").collect()
    }
    assert got == want


def test_holt_stream_state_across_microbatches(spark):
    from datetime import datetime

    from bytewax_spark.streaming import holt_stream

    rows = [("k", datetime(2024, 1, 1, i), i, 100 * (i + 1)) for i in range(6)]
    flow = Dataflow("s_holt")
    src = TestingSource(
        rows, schema="k string, ts timestamp, i long, v long",
        streaming=True, files=3,
    )
    ks = op.key_on("key", op.input("in", flow, src), "k")
    out = holt_stream("h", ks, "v", "ts", "i")
    sink = MemorySink("s_holt_out")
    op.output("out", out, sink)
    got = drain(spark, flow, "s_holt_out")
    last = got[-1]

    def tdiv(a, b):
        q = abs(a) // b
        return q if a >= 0 else -q

    l, b = 100, 0
    for i in range(1, 6):
        x = 100 * (i + 1)
        nl = tdiv(1 * x + 3 * (l + b), 4)
        b = tdiv(1 * (nl - l) + 3 * b, 4)
        l = nl
    assert (last["n"], last["level_micro"], last["trend_micro"]) == (6, l, b)


def test_cusum_stream_alarm_on_level_shift(spark):
    from datetime import datetime

    from bytewax_spark.streaming import cusum_stream

    # target 10: five on-target rows keep S at 0, then five at 20
    # ramp S by 10 each -> alarms once S > 25 (steps 8, 9, 10)
    rows = [("k", datetime(2024, 1, 1, i), i, 10) for i in range(5)] + [
        ("k", datetime(2024, 1, 1, 5 + i), 5 + i, 20) for i in range(5)
    ]
    flow = Dataflow("b_pagecs")
    src = TestingSource(rows, schema="k string, ts timestamp, i long, v long")
    ks = op.key_on("key", op.input("in", flow, src), "k")
    out = cusum_stream(
        "c", ks, "v", "ts", "i", target_micro=10, threshold_micro=25
    ).df.collect()[0]
    assert out["n"] == 10
    assert out["s_micro"] == 50
    assert out["alarms"] == 3
    assert out["first_alarm_ts"] == datetime(2024, 1, 1, 7)


def test_cusum_stream_on_target_never_alarms(spark):
    from datetime import datetime

    from bytewax_spark.streaming import cusum_stream

    rows = [("k", datetime(2024, 1, 1, i), i, 10) for i in range(8)]
    flow = Dataflow("b_pagecs2")
    src = TestingSource(rows, schema="k string, ts timestamp, i long, v long")
    ks = op.key_on("key", op.input("in", flow, src), "k")
    out = cusum_stream(
        "c", ks, "v", "ts", "i", target_micro=10, threshold_micro=5
    ).df.collect()[0]
    assert out["alarms"] == 0 and out["s_micro"] == 0
    assert out["first_alarm_ts"] is None


@pytest.mark.parametrize(
    "name",
    [
        "frequency_cap_stream",
        "dedup_ttl_stream",
        "heavy_hitters_stream",
        "sample_stream",
        "stateful_map_stream",
    ],
)
def test_stream_functions_take_quoted_column_names(spark, name):
    """Output schemas are built from the input's fields, so a column
    whose name needs quoting in DDL (``item id``) passes through.
    ``stateful_map_stream`` runs as a streaming drain, the others in
    batch mode."""
    import hashlib

    import bytewax_spark.streaming as st

    def count(state, _):
        state = (state or 0) + 1
        return state, state

    t0 = datetime(2024, 1, 1)
    rows = [("p", "a", t0, 0), ("p", "b", t0, 1), ("p", "a", t0, 2), ("q", "c", t0, 3)]
    first = {("p", "a"), ("p", "b"), ("q", "c")}
    lowest = min("ab", key=lambda x: hashlib.md5(x.encode()).hexdigest()[:15])
    build, want = {
        "frequency_cap_stream": (
            lambda ks: st.frequency_cap_stream("f", ks, "item id", cap=1, order_by="seq"),
            first,
        ),
        "dedup_ttl_stream": (
            lambda ks: st.dedup_ttl_stream("f", ks, "item id", "ts", timedelta(hours=1)),
            first,
        ),
        "heavy_hitters_stream": (
            lambda ks: st.heavy_hitters_stream("f", ks, "item id", k=1),
            {("p", "a"), ("q", "c")},
        ),
        "sample_stream": (
            lambda ks: st.sample_stream("f", ks, "item id", n=1),
            {("p", lowest), ("q", "c")},
        ),
        "stateful_map_stream": (
            lambda ks: st.stateful_map_stream("f", ks, count, "item id", "n", "long", order_by="seq"),
            {("p", "a", 1), ("p", "b", 2), ("p", "a", 3), ("q", "c", 1)},
        ),
    }[name]
    streaming = name == "stateful_map_stream"
    flow = Dataflow(f"quoted_{name}")
    src = TestingSource(
        rows, schema="part string, `item id` string, ts timestamp, seq long", streaming=streaming
    )
    out = build(op.key_on("key", op.input("in", flow, src), "part"))
    assert "item id" in out.df.columns
    if streaming:
        op.output("out", out, MemorySink("quoted_out"))
        got = {(r["key"], r["item id"], r["n"]) for r in drain(spark, flow, "quoted_out")}
    else:
        got = {(r["key"], r["item id"]) for r in out.df.collect()}
    assert got == want


@pytest.mark.parametrize("timeout", [timedelta(0), timedelta(microseconds=500)])
def test_collect_stream_rejects_sub_millisecond_timeout(spark, timeout):
    """The processing-time timer counts whole milliseconds: a shorter
    timeout is refused when the flow is built, not by the state store
    in the middle of a drain."""
    from bytewax_spark.streaming import collect_stream

    flow = Dataflow("coll_t")
    s = op.input("in", flow, TestingSource([("a", 0)], schema="k string, v long"))
    with pytest.raises(ValueError, match="timeout"):
        collect_stream("c", op.key_on("key", s, "k"), "v", timeout=timeout, max_size=2)
