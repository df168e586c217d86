"""Self-tests for the benchmark's pure helpers; no Spark needed.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime, timezone

import pytest

from perfbench.spans import (
    Span,
    Tracer,
    batch_spans,
    median,
    percentile,
    progress_epoch,
    progress_metrics,
    self_times,
)

HERE = os.path.dirname(os.path.abspath(__file__))


@pytest.fixture
def progress() -> list[dict]:
    with open(os.path.join(HERE, "testdata", "progress.json")) as f:
        return json.load(f)


def test_progress_metrics_from_canned_progress(progress):
    m = progress_metrics(progress)
    assert m["batches"] == 3 and m["data_batches"] == 2
    # timings are over the two batches that read input
    assert m["add_batch_ms_p50"] == 800 and m["add_batch_ms_p99"] == 1800
    assert m["trigger_ms_p50"] == 1000 and m["trigger_ms_p99"] == 2140
    assert m["get_batch_ms"] == 48  # getBatch + latestOffset: 72 and 48
    assert (m["query_planning_ms"], m["wal_commit_ms"], m["commit_offsets_ms"]) == (30, 35, 30)
    assert m["rows_per_batch"] == 1000
    assert m["data_batch_frac"] == pytest.approx(2 / 3)
    # state size peaks mid-run; updates count every batch
    assert m["state_rows_total"] == 8 and m["state_memory_bytes"] == 250000
    assert m["state_commit_ms"] == 200 and m["state_update_ms"] == 500
    assert m["state_rows_updated"] == 10


def test_progress_metrics_empty():
    m = progress_metrics([])
    assert m["batches"] == 0 and m["data_batch_frac"] == 0.0 and m["add_batch_ms_p50"] == 0.0


def test_batch_spans_rebuild_phases(progress):
    tr = Tracer(enabled=True)
    batch_spans(tr, progress[:1])
    batch, *phases = tr.spans
    assert batch.name == "spark.stream.batch"
    assert batch.start == pytest.approx(tr.from_epoch(progress_epoch(progress[0])))
    assert batch.ms == pytest.approx(2140)
    assert [p.name for p in phases] == [
        "spark.stream.latestOffset", "spark.stream.getBatch", "spark.stream.queryPlanning",
        "spark.stream.addBatch", "spark.stream.walCommit", "spark.stream.commitOffsets",
    ]
    assert all(p.parent == batch.id for p in phases)
    # phases are laid end to end from the batch start
    assert all(a.end == pytest.approx(b.start) for a, b in zip(phases, phases[1:]))
    assert self_times(tr.spans)[batch.id] == pytest.approx(2140 - 2107, abs=1e-3)


def test_batch_spans_nest_under_the_query_span():
    # a batch reported with a wall-clock timestamp lands inside the
    # perf_counter span that ran the query, so it takes from its self time
    tr = Tracer(enabled=True)
    with tr.span("drain.warm") as warm:
        t0 = time.time()
        time.sleep(0.2)
    stamp = datetime.fromtimestamp(t0, timezone.utc).isoformat(timespec="milliseconds")
    batch_spans(tr, [{"timestamp": stamp.replace("+00:00", "Z"),
                      "durationMs": {"triggerExecution": 150, "addBatch": 120}}], warm.id)
    batch = tr.named("spark.stream.batch")[0]
    assert warm.start - 0.01 <= batch.start and batch.end <= warm.end + 0.01
    assert self_times(tr.spans)[warm.id] == pytest.approx(warm.ms - 150, abs=15)


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 99) == 99
    assert percentile(values, 100) == 100
    assert percentile([7.0], 99) == 7.0
    assert percentile([], 50) == 0.0
    assert percentile([3, 1, 2], 50) == 2


def test_median():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 2, 3]) == 2.5
    assert median([]) == 0.0


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "parent", 0.0, 10.0, None),
        Span(1, "a", 1.0, 3.0, 0),
        Span(2, "b", 2.0, 5.0, 0),  # overlaps a: counted once
        Span(3, "c", 8.0, 12.0, 0),  # clipped to the parent's end
        Span(4, "grandchild", 1.5, 2.0, 1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(4000.0)
    assert st[1] == pytest.approx(1500.0)
    assert st[3] == pytest.approx(4000.0)
    assert st[4] == pytest.approx(500.0)


def test_tracer_nesting_and_disabled():
    tr = Tracer(enabled=True)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    off = Tracer(enabled=False)
    with off.span("x") as s:
        assert s is None
    assert off.spans == []


def test_tracer_dump_writes_self_times(tmp_path):
    tr = Tracer(enabled=True)
    tr.add("parent", 0.0, 1.0)
    tr.add("child", 0.25, 0.5, parent=0)
    path = tmp_path / "spans.json"
    tr.dump(str(path))
    rows = json.loads(path.read_text())
    assert [r["name"] for r in rows] == ["parent", "child"]
    assert rows[0]["self_ms"] == pytest.approx(750.0)
