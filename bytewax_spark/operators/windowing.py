"""Windowing — clocks, windowers and windowed aggregations.

Reference: ``/root/reference/pysrc/bytewax/operators/windowing.py``
(SURVEY §2.4). Spark-first compile: the aggregate fast path uses
``F.window`` / ``F.session_window`` expressions — window assignment
happens JVM-side inside codegen, the aggregation is one hash shuffle
with partial aggregation, and event-time lateness in streaming is
``withWatermark``. Paths that need window bounds as plain columns
(custom folds, windowed joins) use :func:`assign_windows`, which
compiles assignment to pure integer/sequence/lag expressions — still
codegen'd, still SQL-expressible (hence DuckDB-oracle-able).
Streaming custom folds run on the ``stateful_batch`` driver
(:mod:`bytewax_spark.streaming`), as the reference builds its
windowing on its one ``stateful_batch`` primitive.

Semantics notes (SURVEY §7.3 divergences, documented not hidden):

- ``EventClock.wait_for_system_duration`` maps to the watermark delay.
  The reference's watermark also advances on wall-clock with no data
  (``windowing.py:264-298``); Spark's only advances with data. In
  batch / availableNow both converge at EOF.
- Batch mode has no arrival order, so ``WindowOut.late`` is empty in
  batch; in streaming we surface would-be-dropped rows via an explicit
  pre-filter side output (Spark drops late rows silently).
- ``WindowMetadata.merged_ids`` for sessions has no built-in analog;
  the declarative path's ``meta`` carries (key, window_start,
  window_end) bounds. ``window(..., arrival_col=...)`` over sessions
  replays the reference windower per key and emits real ``window_id``
  + ``merged_ids`` (see :func:`_session_replay_assign`).
"""

from __future__ import annotations

import math
from collections.abc import Callable, Mapping
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from functools import partial
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bytewax_spark.dataflow import KeyedStream, Stream
from bytewax_spark.operators import _require_keyed
from bytewax_spark.streaming import StatefulBatchLogic, _stateful_batch_df

__all__ = [
    "UTC_ALIGN",
    "SystemClock",
    "EventClock",
    "TumblingWindower",
    "SlidingWindower",
    "SessionWindower",
    "WindowOut",
    "assign_windows",
    "window",
    "fold_window",
    "reduce_window",
    "count_window",
    "collect_window",
    "max_window",
    "min_window",
    "join_window",
]

UTC_ALIGN = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _us(td: timedelta) -> int:
    return int(td.total_seconds() * 1_000_000)


def _interval(td: timedelta) -> str:
    return f"{_us(td)} microseconds"


def _quoted(name: str) -> str:
    """``name`` as a backtick-quoted identifier, for the APIs that parse
    their column argument (``withWatermark``)."""
    return "`" + name.replace("`", "``") + "`"


# ---------------------------------------------------------------------------
# clocks (reference windowing.py:78-425)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class SystemClock:
    """Timestamp = processing time (reference ``:190-221``)."""

    @property
    def watermark_delay(self) -> timedelta:
        return timedelta(0)

    def ts_col(self) -> Column:
        return F.current_timestamp()


@dataclass(frozen=True)
class EventClock:
    """Event time from a column; ``wait_for_system_duration`` is how
    long to wait for stragglers → streaming watermark delay
    (reference ``:224-310, :359-425``).

    ``close_on_idle``: the reference's watermark keeps advancing with
    *system* time once the source idles (``:230-310``), so buffered
    windows eventually close even with no further input. Spark's
    event-time watermark only moves with data, so a pure-streaming
    idle topology would hold its last windows open forever. Setting
    ``close_on_idle=timedelta(...)`` arms a processing-time timer per
    key in the streaming custom-fold path: once a key receives no new
    rows for that wall-clock duration, every open window of that key
    closes and emits. Windows the watermark passes still close with
    the key's next rows. Batch/availableNow runs don't need it (EOF
    closes everything)."""

    ts_field: str
    wait_for_system_duration: timedelta = timedelta(0)
    close_on_idle: timedelta | None = None

    @property
    def watermark_delay(self) -> timedelta:
        return self.wait_for_system_duration

    def ts_col(self) -> Column:
        return F.col(self.ts_field)


# ---------------------------------------------------------------------------
# windowers (reference windowing.py:446-926)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class TumblingWindower:
    """Fixed-length gap-free windows (reference ``:895-926``).
    ``align_to`` sets the window phase (Spark ``startTime``)."""

    length: timedelta
    align_to: datetime = UTC_ALIGN

    def group_expr(self, ts: Column) -> Column:
        start = (self.align_to - UTC_ALIGN) % self.length
        return F.window(ts, _interval(self.length), _interval(self.length), _interval(start))


@dataclass(frozen=True)
class SlidingWindower:
    """Overlapping windows every ``offset`` (reference ``:598-668``);
    each row lands in ⌈length/offset⌉ windows — Spark's multi-assign
    ``window(ts, length, slide)`` does the same expansion JVM-side."""

    length: timedelta
    offset: timedelta
    align_to: datetime = UTC_ALIGN

    def group_expr(self, ts: Column) -> Column:
        start = (self.align_to - UTC_ALIGN) % self.offset
        return F.window(ts, _interval(self.length), _interval(self.offset), _interval(start))


@dataclass(frozen=True)
class SessionWindower:
    """Gap-based merging sessions (reference ``:671-810``).
    ``F.session_window`` implements the same merge algorithm."""

    gap: timedelta

    def group_expr(self, ts: Column) -> Column:
        return F.session_window(ts, _interval(self.gap))


Windower = TumblingWindower | SlidingWindower | SessionWindower
Clock = SystemClock | EventClock


def assign_windows(
    df: DataFrame,
    ts: Column,
    windower: Windower,
    key_col: str | None = None,
) -> DataFrame:
    """Add explicit ``window_start`` / ``window_end`` timestamp columns.

    Pure-expression compile (no Python in the hot path), used by custom
    folds and :func:`join_window` where the bounds must be plain
    columns rather than a ``groupBy`` expression:

    - tumbling: integer floor-align on ``unix_micros`` — codegen'd
      arithmetic, zero shuffle.
    - sliding: compile-time ⌈length/offset⌉ window count → ``sequence``
      + ``explode`` (row expansion JVM-side), matching the reference's
      assign math (``windowing.py:611-618``).
    - session: lag/cumsum sessionization per key (one shuffle + sort on
      the key — same cost class as the stateful merge the reference
      does); ``window_end`` = last ts + gap, matching
      ``F.session_window`` bounds.
    """
    # unix_micros requires TIMESTAMP; NTZ columns (parquet without tz)
    # cast via the session TZ (pinned UTC), and bounds cast back so the
    # output type matches the groupBy-path window bounds
    ts_type = df.select(ts.alias("_probe")).schema[0].dataType.simpleString()
    t = F.unix_micros(ts.cast("timestamp"))
    _restore = ts_type if ts_type in ("timestamp", "timestamp_ntz") else "timestamp"

    def _mk_ts(us: Column) -> Column:
        return F.timestamp_micros(us).cast(_restore)

    if isinstance(windower, TumblingWindower):
        off = _us((windower.align_to - UTC_ALIGN) % windower.length)
        length = _us(windower.length)
        ws = t - F.pmod(t - F.lit(off), F.lit(length))
        return df.withColumn("window_start", _mk_ts(ws)).withColumn(
            "window_end", _mk_ts(ws + F.lit(length))
        )
    if isinstance(windower, SlidingWindower):
        off = _us((windower.align_to - UTC_ALIGN) % windower.offset)
        length, step = _us(windower.length), _us(windower.offset)
        n = math.ceil(length / step)
        latest = t - F.pmod(t - F.lit(off), F.lit(step))
        starts = F.sequence(latest, latest - F.lit((n - 1) * step), F.lit(-step))
        valid = F.filter(starts, lambda s: s > t - F.lit(length))
        out = df.withColumn("_ws", F.explode(valid))
        return out.withColumn("window_start", _mk_ts(F.col("_ws"))).withColumn(
            "window_end", _mk_ts(F.col("_ws") + F.lit(length))
        ).drop("_ws")
    if isinstance(windower, SessionWindower):
        from pyspark.sql import Window as W

        if key_col is None:
            raise ValueError("session windows require a key column")
        gap = _us(windower.gap)
        w = W.partitionBy(key_col).orderBy(t)
        new_session = (
            F.when(t - F.lag(t).over(w) > F.lit(gap), F.lit(1))
            .otherwise(F.lit(0))
        )
        sess = df.withColumn("_new", F.coalesce(new_session, F.lit(0))).withColumn(
            "_sid", F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        )
        bounds = W.partitionBy(key_col, "_sid")
        return (
            sess.withColumn("window_start", _mk_ts(F.min(t).over(bounds)))
            .withColumn("window_end", _mk_ts(F.max(t).over(bounds) + F.lit(gap)))
            .drop("_new", "_sid")
        )
    raise TypeError(f"unknown windower {windower!r}")


def _session_replay_assign(
    up: KeyedStream, clock: EventClock, windower: SessionWindower, arrival_col: str
) -> DataFrame:
    """Arrival-order replay of the reference's session windower
    (``windowing.py:671-810``): per-key incrementing int window ids,
    gap-merge recording absorbed ids in the survivor's ``merged_ids``
    (``_session_find_merges``, ``:688-715``), watermark = running
    ``max(ts) - wait_for_system_duration``, items below it late
    (``LATE_SESSION_ID``), sessions removed once the watermark passes
    ``close + gap`` (``close_for``, ``:775-789``).

    Adds ``window_id``, ``window_start``, ``window_end`` (= close +
    gap, Spark ``session_window`` bounds), ``merged_ids`` and ``_late``
    columns. Like the tumbling/sliding late path this replays
    single-worker arrival semantics for test/debug fidelity — per-key
    Python, one shuffle on the key; the 100 TB session path is the
    declarative ``F.session_window`` aggregate."""
    import pyspark.sql.types as T

    gap_us, delay_us = _us(windower.gap), _us(clock.watermark_delay)
    ts_field, key_col = clock.ts_field, up.key_col
    in_cols = list(up.df.columns)
    ts_dt = up.df.schema[ts_field].dataType
    schema = T.StructType(
        list(up.df.schema.fields)
        + [
            T.StructField("window_id", T.LongType()),
            T.StructField("window_start", ts_dt),
            T.StructField("window_end", ts_dt),
            T.StructField("merged_ids", T.ArrayType(T.LongType())),
            T.StructField("_late", T.BooleanType()),
        ]
    )

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(arrival_col, kind="stable").reset_index(drop=True)
        t_us = (pdf[ts_field].astype("int64") // 1000).tolist()
        active: dict[int, list] = {}  # id -> [open_us, close_us, merged:set]
        done: dict[int, list] = {}
        remap: dict[int, int] = {}
        next_id, max_ts = 0, None
        assigned: list[int] = []

        def find_merges() -> None:
            items = sorted(active.items(), key=lambda kv: kv[1][0])
            last_id, last = items[0]
            for wid, s in items[1:]:
                if s[0] - last[1] <= gap_us:
                    last[1] = max(last[1], s[1])
                    last[2].add(wid)
                    remap[wid] = last_id
                    del active[wid]
                else:
                    last_id, last = wid, s

        for t in t_us:
            max_ts = t if max_ts is None else max(max_ts, t)
            wm = max_ts - delay_us
            for wid in [w for w, s in active.items() if s[1] < wm - gap_us]:
                done[wid] = active.pop(wid)
            if t < wm:
                assigned.append(-1)
                continue
            sid = None
            for wid, s in active.items():
                if s[0] <= t <= s[1]:
                    sid = wid
                    break
                if 0 < s[0] - t <= gap_us:
                    s[0] = t
                    sid = wid
                    find_merges()
                    break
                if 0 < t - s[1] <= gap_us:
                    s[1] = t
                    sid = wid
                    find_merges()
                    break
            if sid is None:
                sid, next_id = next_id, next_id + 1
                active[sid] = [t, t, set()]
            assigned.append(sid)

        done.update(active)

        def resolve(wid: int) -> int:
            while wid in remap:
                wid = remap[wid]
            return wid

        final = [resolve(w) if w >= 0 else -1 for w in assigned]
        out = pdf.copy()
        out["window_id"] = pd.array(final, dtype="int64")
        out["_late"] = [w < 0 for w in final]
        starts = [done[w][0] if w >= 0 else None for w in final]
        ends = [done[w][1] + gap_us if w >= 0 else None for w in final]
        out["window_start"] = pd.to_datetime(pd.array(starts, dtype="Int64"), unit="us")
        out["window_end"] = pd.to_datetime(pd.array(ends, dtype="Int64"), unit="us")
        out["merged_ids"] = [sorted(done[w][2]) if w >= 0 else [] for w in final]
        return out

    return up.df.groupBy(key_col).applyInPandas(replay, schema=schema)


@dataclass(frozen=True)
class WindowOut:
    """(down, late, meta) triple (reference ``WindowOut``,
    windowing.py:1193-1222)."""

    down: KeyedStream
    late: Stream
    meta: Stream


# ---------------------------------------------------------------------------
# the generic windowed aggregation
# ---------------------------------------------------------------------------

class _WindowFold(StatefulBatchLogic):
    """One stream key's open windows for a streaming custom fold (SURVEY
    §7.4 hard parts #1, #3, #4: the reference's opaque ``WindowLogic``).

    The snapshot is a list of ``(start_us, end_us, rows)``, ``rows``
    being buffered input tuples in ``cols`` order. Tumbling and sliding
    rows join the window of their :func:`assign_windows` bounds and are
    late once that window's end is at or below the watermark. With
    ``gap_us`` (sessions, the reference's ``on_merge``,
    ``windowing.py:688-715``) each row seeds a ``[ts, ts + gap)``
    session, sort-and-merge joins sessions with ``next.start <=
    cur.end``, and a row below the watermark is late
    (``LATE_SESSION_ID``). Late rows are dropped; the first watermark
    is the epoch, so rows before 1970 are late. A window folds and
    emits once, when the watermark reaches its end; with ``idle`` (the
    clock's ``close_on_idle``) the timer is a wall-clock delay instead,
    and ``on_eof`` flushes all of the key's windows when it fires."""

    def __init__(self, snap, *, cols, fold, gap_us, ts_field, idle):
        self.windows: list[tuple[int, int, list]] = snap or []
        self.cols, self.fold, self.gap_us = cols, fold, gap_us
        self.ts_field, self.idle = ts_field, idle

    def _wm_us(self) -> int:
        wm = self.watermark
        return -(2**63) if wm is None else (wm - UTC_ALIGN) // timedelta(microseconds=1)

    def on_batch(self, pdf):
        wm = self._wm_us()
        rows = pdf[self.cols].itertuples(index=False, name=None)
        if self.gap_us is None:
            bounds = zip(_micros(pdf["window_start"]), _micros(pdf["window_end"]))
            open_ = {(start, end): buf for start, end, buf in self.windows}
            for (start, end), row in zip(bounds, rows):
                if end > wm:
                    open_.setdefault((start, end), []).append(row)
            self.windows = [(start, end, buf) for (start, end), buf in open_.items()]
        else:
            for t, row in zip(_micros(pdf[self.ts_field]), rows):
                if t >= wm:
                    self.windows.append((t, t + self.gap_us, [row]))
            self.windows.sort(key=lambda s: s[0])
            merged: list = []
            for s in self.windows:
                if merged and s[0] <= merged[-1][1]:
                    last = merged[-1]
                    merged[-1] = (last[0], max(last[1], s[1]), last[2] + s[2])
                else:
                    merged.append(s)
            self.windows = merged
        return self.on_notify()

    def on_notify(self):
        wm = self._wm_us()
        due = [w for w in self.windows if w[1] <= wm]
        self.windows = [w for w in self.windows if w[1] > wm]
        return self._fold(due), (self.RETAIN if self.windows else self.DISCARD)

    def on_eof(self):
        due, self.windows = self.windows, []
        return self._fold(due), self.DISCARD

    def notify_at(self):
        if self.idle is not None:
            return self.idle
        return UTC_ALIGN + timedelta(microseconds=min(w[1] for w in self.windows))

    def snapshot(self):
        return self.windows

    def _fold(self, windows: list) -> pd.DataFrame | None:
        outs = []
        for start, end, rows in windows:
            pdf = pd.DataFrame(rows, columns=self.cols)
            pdf["window_start"] = pd.Timestamp(start * 1000)
            pdf["window_end"] = pd.Timestamp(end * 1000)
            out = self.fold(pdf)
            if out is not None and len(out):
                outs.append(out)
        return pd.concat(outs, ignore_index=True) if outs else None


def _micros(col: pd.Series) -> list[int]:
    """Epoch microseconds of a naive-UTC timestamp column."""
    return col.to_numpy("datetime64[us]").astype("int64").tolist()


def _windowed_agg(
    step_id: str,
    op_name: str,
    up: KeyedStream,
    clock: Clock,
    windower: Windower,
    agg_cols: list[tuple[str, Column]],
    fold: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
    schema: Any | None = None,
    ordered: bool = False,
) -> KeyedStream:
    up = _require_keyed(step_id, up)
    fq = up.flow.register(step_id, op_name, (up.step_id,))
    df = up.df
    ts = clock.ts_col()
    if df.isStreaming and isinstance(clock, EventClock) and clock.watermark_delay > timedelta(0):
        df = df.withWatermark(_quoted(clock.ts_field), _interval(clock.watermark_delay))
        ts = F.col(clock.ts_field)

    if fold is not None:
        if schema is None:
            raise ValueError(f"step {step_id!r}: custom fold requires schema")
        if ordered:
            # reference `ordered=True` (windowing.py:1095-1108): buffer
            # and replay items to the fold in timestamp order. The sort
            # is per (key, window) inside the Arrow batch — no extra
            # shuffle; stable so equal timestamps keep arrival order
            # (streaming buffer order / batch partition order).
            if not isinstance(clock, EventClock):
                raise ValueError(
                    f"step {step_id!r}: ordered=True needs an EventClock timestamp column"
                )
            inner, tsf = fold, clock.ts_field

            def fold(pdf: pd.DataFrame) -> pd.DataFrame:  # noqa: F811
                return inner(pdf.sort_values(tsf, kind="stable").reset_index(drop=True))
        if not df.isStreaming:
            with_win = assign_windows(df, ts, windower, key_col=up.key_col)
            out = with_win.groupBy(up.key_col, "window_start", "window_end").applyInPandas(
                lambda pdf: fold(pdf), schema=schema
            )
            return KeyedStream(up.flow, fq, out, up.key_col)
        session = isinstance(windower, SessionWindower)
        if session and not isinstance(clock, EventClock):
            raise ValueError(
                f"step {step_id!r}: streaming session folds need an EventClock "
                "(the watermark drives session close)"
            )
        idle = getattr(clock, "close_on_idle", None)
        builder = partial(_WindowFold, cols=df.columns, fold=fold, idle=idle,
                          gap_us=_us(windower.gap) if session else None,
                          ts_field=getattr(clock, "ts_field", None))
        src = df if session else assign_windows(df, ts, windower, key_col=up.key_col)
        timers = "event" if idle is None else "processing"
        out = _stateful_batch_df(src, up.key_col, builder, schema, timers)
        return KeyedStream(up.flow, fq, out, up.key_col)

    win = windower.group_expr(ts).alias("_w")
    out = (
        df.groupBy(F.col(up.key_col), win)
        .agg(*[c.alias(n) for n, c in agg_cols])
        .select(
            F.col(up.key_col),
            F.col("_w.start").alias("window_start"),
            F.col("_w.end").alias("window_end"),
            *[F.col(f"`{n}`") for n, _ in agg_cols],
        )
    )
    return KeyedStream(up.flow, fq, out, up.key_col)


def window(
    step_id: str,
    up: KeyedStream,
    clock: Clock,
    windower: Windower,
    aggs: Mapping[str, Column],
    arrival_col: str | None = None,
) -> WindowOut:
    """Generic windowed aggregation returning the (down, late, meta)
    triple (reference ``window``, windowing.py:1254-1338).

    Late-data side output (reference emits dropped items on
    ``WindowOut.late``; Spark drops them silently — SURVEY §7.3):

    - batch + ``arrival_col``: replays the reference's single-worker
      watermark exactly — the watermark after each arrival is
      ``max(ts seen so far) - wait_for_system_duration``, and an item
      is late iff every window it maps to has already closed
      (``window_end <= watermark``). Late rows are excluded from
      ``down`` and emitted on ``late`` with their arrival order. The
      running max needs a total order, so this path sorts globally —
      it reproduces test/debug semantics, not a 100 TB operator; at
      scale use streaming, where ``withWatermark`` enforces the same
      contract and ``late`` stays empty (Spark gives no dropped-row
      side channel).
    - otherwise: the whole input is one epoch (nothing is late), the
      reference's behavior for a single-batch ``TestingSource``.

    ``SessionWindower`` + ``arrival_col`` replays the reference's
    session windower per key (:func:`_session_replay_assign`): ``meta``
    carries the reference's int ``window_id`` and ``merged_ids``
    (absorbed session ids), and items below the watermark land on
    ``late`` (the ``LATE_SESSION_ID`` route).
    """
    if arrival_col is None or up.df.isStreaming:
        down = fold_window(step_id, up, clock, windower, aggs)
        late = Stream(up.flow, f"{down.step_id}.late", down.df.limit(0))
        meta = Stream(
            up.flow,
            f"{down.step_id}.meta",
            down.df.select(up.key_col, "window_start", "window_end"),
        )
        return WindowOut(down=down, late=late, meta=meta)

    if isinstance(windower, SessionWindower):
        if not isinstance(clock, EventClock):
            raise ValueError(f"step {step_id!r}: session late-split needs an EventClock")
        up = _require_keyed(step_id, up)
        fq = up.flow.register(step_id, "window", (up.step_id,))
        assigned = _session_replay_assign(up, clock, windower, arrival_col)
        ok = assigned.filter(~F.col("_late"))
        down_df = ok.groupBy(up.key_col, "window_start", "window_end").agg(
            *[c.alias(n) for n, c in aggs.items()]
        )
        late_df = assigned.filter(F.col("_late")).select(*up.df.columns)
        meta_df = ok.select(
            up.key_col, "window_id", "window_start", "window_end", "merged_ids"
        ).distinct()
        return WindowOut(
            down=KeyedStream(up.flow, fq, down_df, up.key_col),
            late=Stream(up.flow, f"{fq}.late", late_df),
            meta=Stream(up.flow, f"{fq}.meta", meta_df),
        )
    up = _require_keyed(step_id, up)
    fq = up.flow.register(step_id, "window", (up.step_id,))
    from pyspark.sql import Window as W

    ts = clock.ts_col()
    delay = _us(clock.watermark_delay)
    wm = (
        F.max(F.unix_micros(ts.cast("timestamp")))
        .over(W.orderBy(F.col(arrival_col)).rowsBetween(W.unboundedPreceding, W.currentRow))
        - F.lit(delay)
    )
    tagged = up.df.withColumn("_row_tag", F.monotonically_increasing_id())
    assigned = assign_windows(
        tagged.withColumn("_wm_us", wm), ts, windower, key_col=up.key_col
    )
    is_late = F.unix_micros(F.col("window_end").cast("timestamp")) <= F.col("_wm_us")
    # closed assignments are dropped from the agg; an item goes to the
    # late stream only when ALL its windows are closed (for sliding's
    # multi-assign, one open window keeps it out of `late` — exactly
    # the reference's insert-into-open-windows rule). The per-row tag
    # keeps fully identical late rows distinct (per-item late stream).
    ok = assigned.filter(~is_late).drop("_wm_us", "_row_tag")
    late_df = (
        assigned.withColumn("_open", (~is_late).cast("int"))
        .groupBy("_row_tag", *[c for c in up.df.columns])
        .agg(F.max("_open").alias("_any_open"))
        .filter(F.col("_any_open") == 0)
        .drop("_any_open", "_row_tag")
    )
    down_df = (
        ok.groupBy(up.key_col, "window_start", "window_end")
        .agg(*[c.alias(n) for n, c in aggs.items()])
    )
    down = KeyedStream(up.flow, fq, down_df, up.key_col)
    late = Stream(up.flow, f"{fq}.late", late_df)
    meta = Stream(up.flow, f"{fq}.meta", down_df.select(up.key_col, "window_start", "window_end"))
    return WindowOut(down=down, late=late, meta=meta)


def fold_window(
    step_id: str,
    up: KeyedStream,
    clock: Clock,
    windower: Windower,
    aggs: Mapping[str, Column] | None = None,
    fold: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
    schema: Any | None = None,
    ordered: bool = False,
) -> KeyedStream:
    """Per-(key, window) fold, emitted on window close (reference
    windowing.py:1717-1846). Columnar ``aggs`` → ``groupBy(key,
    window).agg`` (partial agg + codegen). Opaque ``fold`` gets one
    window's rows plus ``window_start``/``window_end`` columns: in
    batch, ``applyInPandas`` per (key, window); in streaming, the
    ``stateful_batch`` driver keyed by the stream key, which buffers
    each open window's rows and folds the window once, when the
    watermark passes its end (:class:`_WindowFold`; needs an
    ``EventClock`` with a nonzero ``wait_for_system_duration``, or
    ``close_on_idle``). Late rows are dropped. ``ordered=True``
    replays the window's items to ``fold`` in timestamp order
    (reference windowing.py:1284-1287)."""
    return _windowed_agg(
        step_id,
        "fold_window",
        up,
        clock,
        windower,
        list((aggs or {}).items()),
        fold,
        schema,
        ordered=ordered,
    )


def reduce_window(
    step_id: str, up: KeyedStream, clock: Clock, windower: Windower, aggs: Mapping[str, Column]
) -> KeyedStream:
    """Fold with first-value seed (reference ``:2239-2285``) — same
    compile as fold_window."""
    return fold_window(step_id, up, clock, windower, aggs=aggs)


def count_window(
    step_id: str, up: KeyedStream, clock: Clock, windower: Windower
) -> KeyedStream:
    """Count per key per window (reference ``:1579-1689``)."""
    return fold_window(step_id, up, clock, windower, aggs={"count": F.count(F.lit(1))})


def collect_window(
    step_id: str,
    up: KeyedStream,
    clock: Clock,
    windower: Windower,
    value: Column | str,
    into: str = "list",
) -> KeyedStream:
    """Collect values per (key, window) into list/set (reference
    ``:1436-1576``). Sorted for cross-partitioning determinism."""
    v = F.col(value) if isinstance(value, str) else value
    if into == "list":
        agg = F.array_sort(F.collect_list(v))
    elif into == "set":
        agg = F.array_sort(F.collect_set(v))
    else:
        raise ValueError(f"into must be list|set, got {into!r}")
    return fold_window(step_id, up, clock, windower, aggs={"values": agg})


def _extreme_window(
    step_id: str, op_name: str, up: KeyedStream, clock: Clock, windower: Windower, by: Column | str
) -> KeyedStream:
    by_c = F.col(by) if isinstance(by, str) else by
    value_cols = [c for c in up.df.columns if c != up.key_col]
    # lexicographic struct extreme (one buffer, deterministic value
    # tie-break) instead of max_by/min_by's two-buffer SortAggregate
    pick = F.max if op_name == "max_window" else F.min
    row = pick(F.struct(by_c.alias("_ord"), *[F.col(c) for c in value_cols]))
    ks = _windowed_agg(step_id, op_name, up, clock, windower, [("_row", row)])
    out = ks.df.select(
        up.key_col, "window_start", "window_end", *[F.col(f"_row.{c}") for c in value_cols]
    )
    return KeyedStream(up.flow, ks.step_id, out, up.key_col)


def max_window(
    step_id: str, up: KeyedStream, clock: Clock, windower: Windower, by: Column | str
) -> KeyedStream:
    """Per-window row with max ``by`` (reference ``:2145-2189``)."""
    return _extreme_window(step_id, "max_window", up, clock, windower, by)


def min_window(
    step_id: str, up: KeyedStream, clock: Clock, windower: Windower, by: Column | str
) -> KeyedStream:
    return _extreme_window(step_id, "min_window", up, clock, windower, by)


def join_window(
    step_id: str,
    clock: Clock,
    windower: Windower,
    *sides: KeyedStream,
    insert_mode: str = "last",
    emit_mode: str = "complete",
    order_by: str | None = None,
) -> KeyedStream:
    """Windowed N-way join (reference ``:2055-2142``): the window
    bounds join the key — each side becomes (key, window_start,
    window_end, values), equi-joined on all three. Catalyst plans the
    physical join; in streaming this is the watermark-bounded
    stream-stream join shape."""
    from bytewax_spark.operators import JoinMode

    if insert_mode not in JoinMode.INSERT or emit_mode not in ("complete", "final"):
        raise ValueError(f"bad join_window mode insert={insert_mode!r} emit={emit_mode!r}")
    sides = tuple(_require_keyed(step_id, s) for s in sides)
    key = sides[0].key_col
    flow = sides[0].flow
    fq = flow.register(step_id, "join_window", tuple(s.step_id for s in sides))

    join_keys = [key, "window_start", "window_end"]
    how = "inner" if emit_mode == "complete" else "full_outer"
    dedup = insert_mode if insert_mode in ("first", "last") else "product"

    def prep(s: KeyedStream) -> DataFrame:
        df = assign_windows(s.df, clock.ts_col(), windower, key_col=key)
        # the clock/order columns are consumed by windowing/dedup so the
        # same-named ts column on every side doesn't collide downstream
        consumed = {c for c in (order_by, getattr(clock, "ts_field", None)) if c}
        if dedup == "product":
            return df.drop(*consumed) if consumed else df
        if order_by is None:
            raise ValueError("insert_mode first/last requires order_by")
        value_cols = [c for c in df.columns if c not in join_keys and c not in consumed]
        # lexicographic struct extreme — single aggregation buffer,
        # deterministic value tie-break (same shape as op.join's dedup)
        pick = F.min if dedup == "first" else F.max
        row = pick(F.struct(F.col(order_by).alias("_ord"), *[F.col(c) for c in value_cols])).alias("_row")
        return df.groupBy(*join_keys).agg(row).select(*join_keys, *[F.col(f"_row.{c}") for c in value_cols])

    out = prep(sides[0])
    for s in sides[1:]:
        out = out.join(prep(s), on=join_keys, how=how)
    return KeyedStream(flow, fq, out, key)
