"""Windowing tests (reference pytests/operators/windowing/ shapes:
tumbling fold, sliding assignment math, session merge, windowed join)."""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import bytewax_spark.operators as op
import bytewax_spark.operators.windowing as win
from bytewax_spark.dataflow import Dataflow, Stream
from bytewax_spark.run import run_main
from bytewax_spark.sinks import MemorySink
from bytewax_spark.sources import TestingSource


def ts(minute: int, sec: int = 0):
    return datetime(2024, 1, 1, 0, minute, sec)


def rows(stream):
    return [r.asDict() for r in stream.df.collect()]


def keyed_events(flow, data):
    s = op.input("in", flow, TestingSource(data, schema="k string, ts timestamp, v long"))
    return op.key_on("key", s, "k")


CLOCK = win.EventClock("ts")


def test_tumbling_fold_window(spark):
    flow = Dataflow("tumble")
    ks = keyed_events(
        flow,
        [("a", ts(0, 10), 1), ("a", ts(0, 50), 2), ("a", ts(1, 10), 4), ("b", ts(0, 5), 7)],
    )
    out = win.fold_window("w", ks, CLOCK, win.TumblingWindower(timedelta(minutes=1)), {"total": F.sum("v")})
    got = {(r["key"], r["window_start"].minute): r["total"] for r in rows(out)}
    assert got == {("a", 0): 3, ("a", 1): 4, ("b", 0): 7}


def test_tumbling_align_to(spark):
    flow = Dataflow("tumble_align")
    ks = keyed_events(flow, [("a", ts(0, 40), 1)])
    align = datetime(2024, 1, 1, 0, 0, 30, tzinfo=timezone.utc)
    out = win.count_window("w", ks, CLOCK, win.TumblingWindower(timedelta(minutes=1), align_to=align))
    r = rows(out)[0]
    assert r["window_start"].second == 30 and r["count"] == 1


def test_sliding_window_multi_assign(spark):
    flow = Dataflow("slide")
    ks = keyed_events(flow, [("a", ts(1, 30), 1)])
    out = win.count_window(
        "w", ks, CLOCK, win.SlidingWindower(timedelta(minutes=2), timedelta(minutes=1))
    )
    starts = sorted(r["window_start"].minute for r in rows(out))
    assert starts == [0, 1]  # item at 1:30 is in [0,2) and [1,3)


def test_session_window(spark):
    flow = Dataflow("session")
    ks = keyed_events(
        flow,
        [("a", ts(0, 0), 1), ("a", ts(0, 30), 2), ("a", ts(5, 0), 4), ("b", ts(0, 0), 8)],
    )
    out = win.fold_window("w", ks, CLOCK, win.SessionWindower(timedelta(minutes=1)), {"total": F.sum("v")})
    got = sorted((r["key"], r["total"]) for r in rows(out))
    assert got == [("a", 3), ("a", 4), ("b", 8)]


def test_collect_window(spark):
    flow = Dataflow("collectw")
    ks = keyed_events(flow, [("a", ts(0, 10), 3), ("a", ts(0, 20), 1)])
    out = win.collect_window("w", ks, CLOCK, win.TumblingWindower(timedelta(minutes=1)), "v")
    assert rows(out)[0]["values"] == [1, 3]


def test_max_window(spark):
    flow = Dataflow("maxw")
    ks = keyed_events(flow, [("a", ts(0, 10), 3), ("a", ts(0, 20), 9)])
    out = win.max_window("w", ks, CLOCK, win.TumblingWindower(timedelta(minutes=1)), by="v")
    assert rows(out)[0]["v"] == 9


def test_fold_window_opaque(spark):
    flow = Dataflow("foldpy")
    ks = keyed_events(flow, [("a", ts(0, 10), 1), ("a", ts(0, 20), 2)])

    def fold(pdf):
        import pandas as pd

        return pd.DataFrame(
            {
                "key": [pdf["key"].iloc[0]],
                "window_start": [pdf["window_start"].iloc[0]],
                "total": [int(pdf["v"].sum())],
            }
        )

    out = win.fold_window(
        "w",
        ks,
        CLOCK,
        win.TumblingWindower(timedelta(minutes=1)),
        fold=fold,
        schema="key string, window_start timestamp, total long",
    )
    assert rows(out) == [{"key": "a", "window_start": ts(0, 0), "total": 3}]


def test_sliding_opaque_fold_multi_assign(spark):
    """The explicit-assignment path must reproduce the groupBy path's
    window math for sliding windows."""
    flow = Dataflow("slidepy")
    ks = keyed_events(flow, [("a", ts(1, 30), 1)])

    def fold(pdf):
        import pandas as pd

        return pd.DataFrame(
            {"key": pdf["key"].iloc[:1], "window_start": pdf["window_start"].iloc[:1], "n": [len(pdf)]}
        )

    out = win.fold_window(
        "w",
        ks,
        CLOCK,
        win.SlidingWindower(timedelta(minutes=2), timedelta(minutes=1)),
        fold=fold,
        schema="key string, window_start timestamp, n long",
    )
    starts = sorted(r["window_start"].minute for r in rows(out))
    assert starts == [0, 1]


def test_session_opaque_fold(spark):
    flow = Dataflow("sesspy")
    ks = keyed_events(flow, [("a", ts(0, 0), 1), ("a", ts(0, 30), 2), ("a", ts(5, 0), 4)])

    def fold(pdf):
        import pandas as pd

        return pd.DataFrame({"key": pdf["key"].iloc[:1], "total": [int(pdf["v"].sum())]})

    out = win.fold_window(
        "w",
        ks,
        CLOCK,
        win.SessionWindower(timedelta(minutes=1)),
        fold=fold,
        schema="key string, total long",
    )
    assert sorted(r["total"] for r in rows(out)) == [3, 4]


def test_join_window(spark):
    flow = Dataflow("joinw")
    l_in = op.input("l", flow, TestingSource([("a", ts(0, 10), 1.0)], schema="k string, ts timestamp, lv double"))
    r_in = op.input("r", flow, TestingSource([("a", ts(0, 40), 2.0), ("a", ts(2, 0), 9.0)], schema="k string, ts timestamp, rv double"))
    left = op.key_on("lk", l_in, "k")
    right = op.key_on("rk", r_in, "k")
    out = win.join_window(
        "jw", CLOCK, win.TumblingWindower(timedelta(minutes=1)), left, right, insert_mode="product"
    )
    got = rows(out)
    assert len(got) == 1 and got[0]["lv"] == 1.0 and got[0]["rv"] == 2.0


def test_window_out_triple(spark):
    flow = Dataflow("wout")
    ks = keyed_events(flow, [("a", ts(0, 10), 1)])
    wo = win.window("w", ks, CLOCK, win.TumblingWindower(timedelta(minutes=1)), {"n": F.count(F.lit(1))})
    assert rows(wo.late) == []
    assert rows(wo.meta)[0]["key"] == "a"
    assert rows(wo.down)[0]["n"] == 1


def test_window_late_split_replays_reference_watermark(spark):
    """Reference fold_window late-data scenario (pytests/operators/
    windowing/test_fold_window.py:95-160 shape): an item arriving after
    its 1-minute window closed (watermark = running max ts - wait_for)
    goes to `late`, is excluded from `down`."""
    flow = Dataflow("wlate")
    data = [
        # (key, ts, v, arrival order)
        ("a", ts(0, 10), 1, 1),
        ("a", ts(2, 0), 2, 2),   # advances watermark to 00:02:00
        ("a", ts(0, 50), 3, 3),  # late: window [00:00,00:01) closed
        ("a", ts(2, 30), 4, 4),
    ]
    s = op.input("in", flow, TestingSource(data, schema="k string, ts timestamp, v long, arr long"))
    ks = op.key_on("key", s, "k")
    wo = win.window(
        "w", ks, CLOCK, win.TumblingWindower(timedelta(minutes=1)),
        {"total": F.sum("v")}, arrival_col="arr",
    )
    late = rows(wo.late)
    assert [(r["k"], r["v"]) for r in late] == [("a", 3)]
    down = {(r["window_start"].minute, r["total"]) for r in rows(wo.down)}
    assert down == {(0, 1), (2, 6)}


def test_window_late_split_sliding_partial_open(spark):
    """Sliding multi-assign: an item with one still-open window is NOT
    late; its closed assignments are simply dropped from the agg."""
    flow = Dataflow("wlate2")
    data = [
        ("a", ts(1, 30), 1, 1),   # windows [0,2) and [1,3)
        ("a", ts(2, 30), 10, 2),  # watermark -> 00:02:30; [0,2) closes
        ("a", ts(1, 40), 5, 3),   # [0,2) closed but [1,3) open -> not late
    ]
    s = op.input("in", flow, TestingSource(data, schema="k string, ts timestamp, v long, arr long"))
    ks = op.key_on("key", s, "k")
    wo = win.window(
        "w", ks, win.EventClock("ts"),
        win.SlidingWindower(timedelta(minutes=2), timedelta(minutes=1)),
        {"total": F.sum("v")}, arrival_col="arr",
    )
    assert rows(wo.late) == []
    got = {(r["window_start"].minute, r["total"]) for r in rows(wo.down)}
    # [0,2): only the first item (5 arrived after close); [1,3): 1+10+5
    # [2,4): 10
    assert got == {(0, 1), (1, 16), (2, 10)}


def test_fold_window_ordered_replays_ts_order(spark):
    """ordered=True (reference windowing.py:1095-1108): the fold sees
    the window's items in timestamp order even when the input isn't."""
    flow = Dataflow("ordered")
    ks = keyed_events(
        flow,
        [("a", ts(0, 30), 3), ("a", ts(0, 10), 1), ("a", ts(0, 20), 2)],
    )

    def fold(pdf):
        import pandas as pd

        return pd.DataFrame(
            {"key": [pdf["key"].iloc[0]], "seq": ["-".join(str(v) for v in pdf["v"])]}
        )

    out = win.fold_window(
        "w",
        ks,
        CLOCK,
        win.TumblingWindower(timedelta(minutes=1)),
        fold=fold,
        schema="key string, seq string",
        ordered=True,
    )
    assert rows(out) == [{"key": "a", "seq": "1-2-3"}]


def test_session_window_merged_ids(spark):
    """Reference session merge (windowing.py:688-715): an out-of-order
    item bridges two open sessions; the survivor (earlier open, lower
    id) records the absorbed id in merged_ids."""
    flow = Dataflow("smerge")
    data = [
        ("a", ts(0), 1, 1),   # opens session 0
        ("a", ts(18), 2, 2),  # gap 10m away -> opens session 1
        ("a", ts(8), 3, 3),   # extends session 0 to 0:08; 18-8 <= gap -> merge
    ]
    s = op.input("in", flow, TestingSource(data, schema="k string, ts timestamp, v long, arr long"))
    ks = op.key_on("key", s, "k")
    wo = win.window(
        "w",
        ks,
        win.EventClock("ts", wait_for_system_duration=timedelta(hours=1)),
        win.SessionWindower(timedelta(minutes=10)),
        {"total": F.sum("v")},
        arrival_col="arr",
    )
    assert rows(wo.late) == []
    down = rows(wo.down)
    assert [(r["window_start"].minute, r["window_end"].minute, r["total"]) for r in down] == [
        (0, 28, 6)
    ]
    meta = rows(wo.meta)
    assert [(r["window_id"], r["merged_ids"]) for r in meta] == [(0, [1])]


def test_session_window_late_split(spark):
    """Items below the watermark take the LATE_SESSION_ID route; closed
    sessions don't absorb later in-gap items (close_for semantics)."""
    flow = Dataflow("slate")
    data = [
        ("a", ts(0, 10), 1, 1),
        ("a", ts(30), 2, 2),    # watermark -> 0:30; session 0 closes (0:10+10 < 0:30)
        ("a", ts(0, 30), 9, 3),  # below watermark -> late
    ]
    s = op.input("in", flow, TestingSource(data, schema="k string, ts timestamp, v long, arr long"))
    ks = op.key_on("key", s, "k")
    wo = win.window(
        "w",
        ks,
        win.EventClock("ts"),
        win.SessionWindower(timedelta(minutes=10)),
        {"total": F.sum("v")},
        arrival_col="arr",
    )
    assert [(r["k"], r["v"]) for r in rows(wo.late)] == [("a", 9)]
    got = {(r["window_start"].minute, r["total"]) for r in rows(wo.down)}
    assert got == {(0, 1), (30, 2)}
    meta = {(r["window_id"], tuple(r["merged_ids"])) for r in rows(wo.meta)}
    assert meta == {(0, ()), (1, ())}


def _late_backlog_fold(spark, tmp_path, windower, name):
    """Drain a backlog whose third file is replayed after the watermark
    passed its rows through a streaming custom fold of ``windower``;
    returns sorted (key, window_start minute, joined tags)."""
    watched = tmp_path / "in"
    watched.mkdir()
    backlog = [
        [("a", ts(5), "a05")],  # opens a's [0, 10)
        [("a", ts(50), "a50")],  # watermark -> 00:49
        [("a", ts(6), "late-a06"), ("b", ts(7), "late-b07")],  # late
        [("a", datetime(2024, 1, 1, 2, 0), "far")],  # closes [50, 60)
    ]
    for i, rows_ in enumerate(backlog):
        tmp = str(tmp_path / f"{i}.parquet")
        k, t, tag = zip(*rows_)
        pq.write_table(pa.table({"k": list(k), "ts": pa.array(t, pa.timestamp("us", tz="UTC")), "tag": list(tag)}), tmp)
        os.utime(tmp, (1_700_000_000 + i, 1_700_000_000 + i))
        os.replace(tmp, watched / f"{i}.parquet")

    def joined(pdf):
        return pd.DataFrame(
            {
                "key": [pdf["key"].iloc[0]],
                "window_start": [pdf["window_start"].iloc[0]],
                "tags": ["-".join(sorted(pdf["tag"]))],
            }
        )

    flow = Dataflow(name)
    df = (
        spark.readStream.schema("k string, ts timestamp, tag string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(watched))
    )
    ks = op.key_on("key", Stream(flow, "in", df), "k")
    folded = win.fold_window(
        "w", ks, win.EventClock("ts", timedelta(minutes=1)), windower,
        fold=joined, schema="key string, window_start timestamp, tags string",
    )
    op.output("out", folded, MemorySink(f"{name}_out"))
    run_main(flow, checkpoint=str(tmp_path / "ckpt"), availableNow=True)
    return sorted(
        (r["key"], r["window_start"].minute, r["tags"]) for r in spark.sql(f"SELECT * FROM {name}_out").collect()
    )


def test_streaming_fold_window_drops_late_rows(spark, tmp_path):
    """A file replayed after the watermark passed its windows: its rows
    are dropped, not armed as timers below the watermark (which fails
    the query), and a window still buffered emits once, without them."""
    got = _late_backlog_fold(spark, tmp_path, win.TumblingWindower(timedelta(minutes=10)), "late_fold")
    assert got == [("a", 0, "a05"), ("a", 50, "a50")]


def test_streaming_session_fold_drops_late_rows(spark, tmp_path):
    """The same backlog through a session fold: rows below the watermark
    are late (the reference's ``LATE_SESSION_ID``) and never open a
    session of their own."""
    got = _late_backlog_fold(spark, tmp_path, win.SessionWindower(timedelta(minutes=10)), "late_sess")
    assert got == [("a", 5, "a05"), ("a", 50, "a50")]
