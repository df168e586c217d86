"""Recovery semantics (reference ``pytests/test_recovery.py:21-80``:
abort → resume continues per-key state, no replay of committed input).

The reference implements this with SQLite snapshots + resume epochs;
our engine gets it from Structured Streaming checkpointing: source
offsets + the state store commit per micro-batch, and a restarted
query with the same checkpoint dir resumes both. The test kills the
query between batches (the ABORT sentinel's effect) by running
availableNow over a directory, then appending new files and
restarting with the same checkpoint.
"""

from __future__ import annotations

import pandas as pd

from bytewax_spark import operators as op
from bytewax_spark.dataflow import Dataflow, Stream
from bytewax_spark.streaming import StatefulBatchLogic, stateful_batch


def _make_logic():
    # defined in a function so cloudpickle ships it by value — the
    # executors cannot import the tests package
    class RunningCount(StatefulBatchLogic):
        """Per-key running count across micro-batches; snapshot = count."""

        def __init__(self, snap):
            self.n = snap or 0

        def on_batch(self, pdf):
            self.n += len(pdf)
            return pd.DataFrame({"n": [self.n]}), self.RETAIN

        def snapshot(self):
            return self.n

    return RunningCount


def _write_batch(spark, src_dir: str, rows, name: str, schema: str = "key string, v long") -> None:
    df = spark.createDataFrame(rows, schema)
    df.coalesce(1).write.mode("overwrite").parquet(f"{src_dir}/_tmp")
    import glob
    import shutil

    (part,) = glob.glob(f"{src_dir}/_tmp/part-*.parquet")
    shutil.move(part, f"{src_dir}/{name}.parquet")
    shutil.rmtree(f"{src_dir}/_tmp", ignore_errors=True)


def _run_once(spark, src_dir: str, ckpt: str, out_dir: str) -> list[tuple]:
    flow = Dataflow("recov")
    df = spark.readStream.schema("key string, v long").parquet(src_dir)
    ks = op.key_on("k", Stream(flow, "in", df), "key")
    counted = stateful_batch("count", ks, _make_logic(), schema="key string, n long")
    q = (
        counted.df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.schema("key string, n long").parquet(out_dir)
    return sorted((r["key"], r["n"]) for r in out.collect())


def test_checkpoint_resume_continues_state(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    _write_batch(spark, str(src), [("a", 1), ("a", 2), ("b", 1)], "b0")
    got1 = _run_once(spark, str(src), ckpt, out)
    assert got1 == [("a", 2), ("b", 1)]

    # "crash" happened: the query above is gone. Append new input and
    # restart with the same checkpoint — per-key state must resume
    # (a continues 2 -> 3) and committed files must not replay.
    _write_batch(spark, str(src), [("a", 9), ("c", 1)], "b1")
    got2 = _run_once(spark, str(src), ckpt, out)
    assert got2 == [("a", 2), ("a", 3), ("b", 1), ("c", 1)]


def test_frequency_cap_state_survives_restart(spark, tmp_path):
    """The count-min counters of frequency_cap_stream ride the same
    checkpoint path: items capped before the crash STAY capped after
    resume (no double-admission), new items still pass."""
    from bytewax_spark.streaming import frequency_cap_stream

    src = tmp_path / "fsrc"
    src.mkdir()
    ckpt = str(tmp_path / "fckpt")
    out_dir = str(tmp_path / "fout")

    def run_once():
        flow = Dataflow("fc_recov")
        df = spark.readStream.schema("key string, v long").parquet(str(src))
        ks = op.key_on("k", Stream(flow, "in", df), "key")
        capped = frequency_cap_stream("fc", ks, "v", cap=2, order_by="v")
        q = (
            capped.df.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        back = spark.read.schema("key string, v long").parquet(out_dir)
        return sorted((r["key"], r["v"]) for r in back.collect())

    # item value 7 appears twice pre-crash -> hits the cap
    _write_batch(spark, str(src), [("a", 7), ("a", 7), ("a", 1)], "f0")
    got1 = run_once()
    assert got1 == [("a", 1), ("a", 7), ("a", 7)]

    # post-restart: 7 must stay capped; 1 has one admission left; 9 new
    _write_batch(spark, str(src), [("a", 7), ("a", 1), ("a", 1), ("a", 9)], "f1")
    got2 = run_once()
    assert got2 == [("a", 1), ("a", 1), ("a", 7), ("a", 7), ("a", 9)]


def test_window_fold_resumes_open_window(spark, tmp_path):
    """A streaming custom-fold tumbling window that is still open when
    the query stops keeps its buffered rows in the checkpoint: after the
    restart it emits once, with rows from both runs."""
    from datetime import datetime, timedelta

    import bytewax_spark.operators.windowing as win

    src = tmp_path / "wsrc"
    src.mkdir()
    ckpt = str(tmp_path / "wckpt")
    out_dir = str(tmp_path / "wout")
    schema = "k string, ts timestamp, tag string"
    out_schema = "key string, window_start timestamp, tags string"

    def joined(pdf):
        return pd.DataFrame(
            {
                "key": [pdf["key"].iloc[0]],
                "window_start": [pdf["window_start"].iloc[0]],
                "tags": ["-".join(sorted(pdf["tag"]))],
            }
        )

    def run_once():
        flow = Dataflow("win_recov")
        df = spark.readStream.schema(schema).parquet(str(src))
        ks = op.key_on("key", Stream(flow, "in", df), "k")
        folded = win.fold_window(
            "w", ks, win.EventClock("ts", timedelta(minutes=1)),
            win.TumblingWindower(timedelta(minutes=10)), fold=joined, schema=out_schema,
        )
        q = (
            folded.df.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        back = spark.read.schema(out_schema).parquet(out_dir)
        return sorted((r["key"], r["window_start"].minute, r["tags"]) for r in back.collect())

    ts = lambda m: datetime(2024, 1, 1, 0, m)  # noqa: E731
    # [0, 10) opens and stays open: the watermark is 00:00
    _write_batch(spark, str(src), [("a", ts(1), "x")], "w0", schema)
    assert run_once() == []

    # after the restart a row joins the restored window and 00:30 moves
    # the watermark past its end
    _write_batch(spark, str(src), [("a", ts(2), "y"), ("a", ts(30), "z")], "w1", schema)
    assert run_once() == [("a", 0, "x-y")]
