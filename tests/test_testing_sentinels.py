"""TestingSource EOF/ABORT/PAUSE fault sentinels (reference
``pysrc/bytewax/testing.py:148-260``): mid-stream crash + resume and
multi-execution input, complementing the checkpoint-restart recovery
tests."""

from __future__ import annotations

import glob
import os
import time
from datetime import timedelta

import pytest
from pyspark.sql.readwriter import DataFrameWriter
from pyspark.sql.streaming import StreamingQueryException

from bytewax_spark.sources import TestingSource


def _drain(spark, df, out_dir: str, ck: str) -> list[int]:
    q = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return sorted(r["v"] for r in spark.read.parquet(out_dir).collect())


@pytest.mark.slow
def test_eof_splits_executions(spark, tmp_path):
    """EOF ends the current execution; advance() + restart on the same
    checkpoint continues from the item after it, with no duplicates."""
    src = TestingSource(
        [(1,), (2,), TestingSource.EOF(), (3,), (4,)], schema="v int", streaming=True
    )
    df = src.to_df()
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    assert _drain(spark, df, out, ck) == [1, 2]
    assert src.advance() is True
    assert _drain(spark, src.to_df() if False else df, out, ck) == [1, 2, 3, 4]
    assert src.advance() is False  # no more phases


@pytest.mark.slow
def test_abort_fails_once_then_resumes(spark, tmp_path):
    """ABORT fails the query mid-stream exactly once; the restart
    replays the failed batch (at-least-once) and completes."""
    src = TestingSource(
        [(1,), (2,), TestingSource.ABORT(), (3,)], schema="v int", streaming=True
    )
    df = src.to_df()
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    with pytest.raises(StreamingQueryException, match="ABORT"):
        _drain(spark, df, out, ck)
    # second execution: the abort is spent; everything lands
    assert _drain(spark, df, out, ck) == [1, 2, 3]


@pytest.mark.slow
def test_pause_delays_stream(spark, tmp_path):
    src = TestingSource(
        [(1,), TestingSource.PAUSE(timedelta(milliseconds=800)), (2,)],
        schema="v int",
        streaming=True,
    )
    df = src.to_df()
    t0 = time.time()
    got = _drain(spark, df, str(tmp_path / "out"), str(tmp_path / "ck"))
    assert got == [1, 2]
    assert time.time() - t0 >= 0.8


def test_sentinels_require_streaming():
    with pytest.raises(ValueError, match="streaming"):
        TestingSource([(1,), TestingSource.EOF()], schema="v int").to_df()


def test_plain_streaming_source_unchanged(spark, tmp_path):
    """No sentinels -> no control column, no Python wrapper."""
    src = TestingSource([(1,), (2,)], schema="v int", streaming=True)
    df = src.to_df()
    assert df.columns == ["v"]
    assert _drain(spark, df, str(tmp_path / "out"), str(tmp_path / "ck")) == [1, 2]


def test_segment_mtimes_rise_with_segment_number(spark, monkeypatch):
    """The file source replays maxFilesPerTrigger=1 segments in
    modification-time order (millisecond resolution), so segments
    written within one tick of the filesystem clock must still get
    distinct, rising mtimes."""
    write = DataFrameWriter.parquet

    def same_tick(self, path, *args, **kwargs):
        write(self, path, *args, **kwargs)
        for f in glob.glob(os.path.join(path, "part-*")):
            os.utime(f, (1_700_000_000, 1_700_000_000))

    monkeypatch.setattr(DataFrameWriter, "parquet", same_tick)
    src = TestingSource(
        [(i,) for i in range(6)] + [TestingSource.EOF()] + [(i,) for i in range(6, 12)],
        schema="v long",
        streaming=True,
        files=6,
    )
    src.to_df()
    assert src.advance()
    segments = sorted(glob.glob(os.path.join(src._stage, "segment-*.parquet")))
    assert len(segments) == 12
    ms = [os.stat(p).st_mtime_ns // 10**6 for p in segments]
    assert all(a < b for a, b in zip(ms, ms[1:])), ms
