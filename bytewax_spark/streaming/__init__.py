"""Streaming execution: the generic keyed-stateful primitive and
streaming compile helpers.

The reference's engine core is ONE stateful operator —
``stateful_batch`` with the ``StatefulBatchLogic`` lifecycle
(``on_batch / on_notify / on_eof / notify_at / snapshot``,
``pysrc/bytewax/operators/__init__.py:593-915`` →
``src/operators.rs:441-1041``). Here it compiles to:

- **streaming**: ``groupBy(key).applyInPandasWithState`` — the logic
  object lives in the Spark state store (pickled snapshot, exactly the
  reference's pickle snapshot protocol), ``notify_at`` maps to group
  state timeouts, recovery is checkpointing (no custom code, SURVEY
  §3). This is the only streaming stateful driver: the windowed custom
  folds in ``operators.windowing`` run on it too.
- **batch**: ``groupBy(key).applyInPandas`` — one batch per key, then
  ``on_eof`` (batch EOF = all input seen), deterministic and
  oracle-checkable.

The streaming driver owns four rules, so no logic re-implements them:

- **Watermark**: ``logic.watermark`` is the query's event-time
  watermark as a UTC ``datetime`` when the call started; None in
  batch mode or when the query sets no watermark.
- **Timestamps**: a ``datetime`` from ``notify_at`` with no time zone
  is UTC wall time (the session time zone is pinned to UTC), never the
  worker's local zone.
- **Past timers**: a ``datetime`` from ``notify_at`` at or below the
  watermark calls ``on_notify`` in the same call; Spark cannot arm a
  timer there.
- **EOF**: streaming has no EOF signal, so ``on_eof`` follows
  ``on_notify`` only for processing-time timeouts: idle means EOF, as
  the reference's wall-clock-advancing watermark (SURVEY §7.3). An
  event-time timeout is a watermark notify, not the end of input.

Semantics divergence (documented, not hidden): items arrive batched
per micro-batch per key, ordered within a batch by the source;
cross-batch order follows event arrival as in the reference.
"""

from __future__ import annotations

import pickle
from abc import ABC, abstractmethod
from collections.abc import Callable
from datetime import datetime, timedelta, timezone
from typing import Any

import pandas as pd
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from bytewax_spark.dataflow import KeyedStream
from bytewax_spark.operators import _require_keyed

__all__ = [
    "StatefulBatchLogic",
    "stateful_batch",
    "stateful",
    "collect_stream",
    "dedup_ttl_stream",
    "distinct_count_stream",
    "funnel_stream",
    "cusum_stream",
    "ewma_stream",
    "holt_stream",
    "moments_stream",
    "sample_stream",
    "zscore_anomaly_stream",
    "frequency_cap_stream",
    "heavy_hitters_stream",
    "stateful_map_stream",
    "stateful_flat_map_stream",
]


class StatefulBatchLogic(ABC):
    """Per-key user logic (reference ``StatefulBatchLogic`` ABC).

    ``on_batch`` receives the key's rows of one (micro-)batch as a
    pandas DataFrame and returns ``(emit_df_or_None, is_complete)``;
    ``is_complete=True`` discards the key's state. ``snapshot`` must
    return something picklable; ``builder`` receives the unpickled
    snapshot (or None) to resume.

    Batch contract: on finite input each key gets ONE ``on_batch`` call
    holding all of its rows, then ``on_eof`` (unless that call
    completed the key). A batch run is therefore a stream of one
    micro-batch, and logic never branches on the mode: whatever
    ``on_batch`` emits after its last micro-batch is the batch
    result."""

    RETAIN = False
    DISCARD = True

    _watermark: datetime | None = None

    @property
    def watermark(self) -> datetime | None:
        """The query's event-time watermark (UTC) when this call
        started; None in batch mode or when the query sets none."""
        return self._watermark

    @abstractmethod
    def on_batch(self, pdf: pd.DataFrame) -> tuple[pd.DataFrame | None, bool]: ...

    def on_notify(self) -> tuple[pd.DataFrame | None, bool]:
        """Timer fired (streaming only; set via notify_at)."""
        return None, False

    def on_eof(self) -> tuple[pd.DataFrame | None, bool]:
        """End of input (batch mode; streaming: after a processing-time
        notify)."""
        return None, False

    def notify_at(self) -> datetime | timedelta | None:
        """Next wakeup: timedelta = processing-time delay from now;
        datetime = event time the watermark must pass (naive = UTC)."""
        return None

    def snapshot(self) -> Any:
        return None


_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _utc(dt: datetime) -> datetime:
    # naive = UTC wall time (session time zone pinned), not worker-local
    return dt if dt.tzinfo is not None else dt.replace(tzinfo=timezone.utc)


def _epoch_ms(dt: datetime) -> int:
    return (_utc(dt) - _EPOCH) // timedelta(milliseconds=1)


def _ensure_key(pdf: pd.DataFrame | None, key_col: str, key_val: Any) -> pd.DataFrame | None:
    if pdf is None or len(pdf) == 0:
        return pdf
    if key_col not in pdf.columns:
        pdf = pdf.copy()
        pdf[key_col] = key_val
    return pdf


def _out_schema(df: DataFrame, *fields: str | tuple[str, DataType]) -> StructType:
    """An output schema built from ``df``'s fields: a name keeps that
    input ``StructField`` as is, a ``(name, type)`` pair adds a new
    nullable field. Always a new ``StructType``: ``df.schema`` is
    cached on the DataFrame and must not be added to."""
    src = {f.name: f for f in df.schema.fields}
    return StructType(
        [src[f] if isinstance(f, str) else StructField(f[0], f[1]) for f in fields]
    )


def _tdiv(a: int, b: int) -> int:
    # truncate toward zero, matching SQL div / DuckDB //
    q = abs(a) // b
    return q if a >= 0 else -q


def stateful_batch(
    step_id: str,
    up: KeyedStream,
    builder: Callable[[Any], StatefulBatchLogic],
    schema: Any,
    timers: str = "none",
) -> KeyedStream:
    """THE generic keyed-stateful operator.

    ``schema`` is the output schema (must contain the key column; it is
    auto-filled if the logic omits it). Streaming: state = pickled
    ``logic.snapshot()`` in the state store. ``notify_at`` returning a
    ``timedelta`` arms a processing-time timeout, which fires
    ``on_notify`` then, if the logic still exists, ``on_eof``; a
    ``datetime`` arms an event-time timeout, which fires ``on_notify``
    alone once the watermark passes it (naive = UTC; at or below the
    watermark already, ``on_notify`` runs in the same call).
    ``logic.watermark`` holds the watermark (UTC) for each call.

    ``timers``: ``none`` (default) | ``processing`` | ``event``
    (``event`` needs ``withWatermark`` upstream). Logic that uses
    ``notify_at`` must opt into one — and note that a
    ``processing`` query never goes idle under
    ``trigger(availableNow)`` (Spark schedules state-cleanup batches
    while any state exists), so drive it with a processing-time
    trigger and stop it explicitly, like any long-running stream.
    """
    up = _require_keyed(step_id, up)
    fq = up.flow.register(step_id, "stateful_batch", (up.step_id,))
    out_df = _stateful_batch_df(up.df, up.key_col, builder, schema, timers)
    return KeyedStream(up.flow, fq, out_df, up.key_col)


def _stateful_batch_df(
    df: DataFrame,
    key_col: str,
    builder: Callable[[Any], StatefulBatchLogic],
    schema: Any,
    timers: str,
) -> DataFrame:
    """The driver behind :func:`stateful_batch`, returning the output
    DataFrame (step registration is the caller's)."""
    if not df.isStreaming:
        def run_batch(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            logic = builder(None)
            outs = []
            out, complete = logic.on_batch(pdf)
            if out is not None:
                outs.append(out)
            if not complete:
                out, _ = logic.on_eof()
                if out is not None:
                    outs.append(out)
            outs = [_ensure_key(o, key_col, key[0]) for o in outs if o is not None and len(o)]
            if not outs:
                return pd.DataFrame()
            return pd.concat(outs, ignore_index=True)

        return df.groupBy(key_col).applyInPandas(run_batch, schema=schema)

    def run_stream(key: tuple, pdfs, state: GroupState):
        try:
            wm_ms = state.getCurrentWatermarkMs()
        except PySparkRuntimeError:  # the query sets no watermark
            wm_ms = None
        wm = None if wm_ms is None else _EPOCH + timedelta(milliseconds=wm_ms)

        def build(snap: Any) -> StatefulBatchLogic:
            logic = builder(snap)
            logic._watermark = wm
            return logic

        logic = build(pickle.loads(state.get[0]) if state.exists else None)
        outs = []

        def call(fn, *args) -> bool:
            out, complete = fn(*args)
            outs.append(out)
            return complete

        complete = False
        if state.hasTimedOut:
            complete = call(logic.on_notify)
            if not complete and timers == "processing":
                complete = call(logic.on_eof)
        else:
            for pdf in pdfs:
                if complete:  # discarded mid-batch: later rows start afresh
                    logic = build(None)
                complete = call(logic.on_batch, pdf)
        na = None if complete else logic.notify_at()
        if isinstance(na, datetime) and wm is not None and _utc(na) <= wm:
            complete = call(logic.on_notify)
            na = None if complete else logic.notify_at()
        if complete:
            state.remove()
        else:
            state.update((pickle.dumps(logic.snapshot()),))
            if isinstance(na, timedelta):
                state.setTimeoutDuration(int(na.total_seconds() * 1000))
            elif isinstance(na, datetime):
                # a timer still in the past fires at the next advance
                ms = _epoch_ms(na)
                state.setTimeoutTimestamp(ms if wm_ms is None else max(ms, wm_ms))
        for o in outs:
            o = _ensure_key(o, key_col, key[0])
            if o is not None and len(o):
                yield o

    timeout_conf = {
        "none": GroupStateTimeout.NoTimeout,
        "processing": GroupStateTimeout.ProcessingTimeTimeout,
        "event": GroupStateTimeout.EventTimeTimeout,
    }[timers]
    return df.groupBy(key_col).applyInPandasWithState(
        run_stream,
        outputStructType=schema,
        stateStructType="snapshot binary",
        outputMode="append",
        timeoutConf=timeout_conf,
    )


def stateful(
    step_id: str,
    up: KeyedStream,
    builder: Callable[[Any], StatefulBatchLogic],
    schema: Any,
) -> KeyedStream:
    """Per-item flavor (reference ``stateful``): same engine primitive;
    logic authors simply iterate the batch rows."""
    return stateful_batch(step_id, up, builder, schema)


def stateful_map_stream(
    step_id: str,
    up: KeyedStream,
    mapper: Callable[[Any, Any], tuple[Any, Any]],
    value_col: str,
    out_col: str,
    out_type: str = "double",
    order_by: str | None = None,
) -> KeyedStream:
    """Streaming ``stateful_map`` with the reference's exact per-row
    contract (``operators/__init__.py:2920-3006``): ``mapper(state,
    value) -> (new_state, out)`` per item, state persists per key
    across micro-batches (pickled in the state store). The batch-mode
    ``op.stateful_map`` compiles to window functions instead; this is
    the unbounded-stream path.

    ``order_by`` sorts each delivered micro-batch per key (shuffle
    order is not source order); cross-batch order is arrival order.
    """
    if not up.df.isStreaming:
        raise ValueError("stateful_map_stream requires a streaming input; use op.stateful_map in batch")

    class _SMap(StatefulBatchLogic):
        def __init__(self, snap):
            self.state = snap

        def on_batch(self, pdf):
            if order_by is not None:
                pdf = pdf.sort_values(order_by)
            outs = []
            for v in pdf[value_col]:
                self.state, out = mapper(self.state, v)
                outs.append(out)
            res = pdf.copy()
            res[out_col] = outs
            return res, self.RETAIN

        def snapshot(self):
            return self.state

    up = _require_keyed(step_id, up)
    schema = _out_schema(up.df, *up.df.columns, (out_col, DataType.fromDDL(out_type)))
    return stateful_batch(step_id, up, _SMap, schema=schema)


def stateful_flat_map_stream(
    step_id: str,
    up: KeyedStream,
    mapper: Callable[[Any, Any], tuple[Any, Any]],
    value_col: str,
    out_col: str,
    out_type: str = "double",
    order_by: str | None = None,
) -> KeyedStream:
    """Streaming ``stateful_flat_map`` (reference
    ``operators/__init__.py:2860-2917``): ``mapper(state, value) ->
    (new_state, iterable_of_outputs)`` per item; ``new_state=None``
    discards the key's state (the next item rebuilds from scratch).
    1→many means input rows can't be carried through — the output is
    ``(key, out_col)`` rows. Batch mode: use ``op.stateful_flat_map``.
    """
    if not up.df.isStreaming:
        raise ValueError(
            "stateful_flat_map_stream requires a streaming input; use op.stateful_flat_map in batch"
        )

    class _SFMap(StatefulBatchLogic):
        def __init__(self, snap):
            self.state = snap

        def on_batch(self, pdf):
            if order_by is not None:
                pdf = pdf.sort_values(order_by)
            outs: list[Any] = []
            for v in pdf[value_col]:
                self.state, emitted = mapper(self.state, v)
                outs.extend(emitted)
            res = pd.DataFrame({out_col: outs})
            return res, (self.DISCARD if self.state is None else self.RETAIN)

        def snapshot(self):
            return self.state

    up = _require_keyed(step_id, up)
    schema = _out_schema(up.df, up.key_col, (out_col, DataType.fromDDL(out_type)))
    return stateful_batch(step_id, up, _SFMap, schema=schema)


def heavy_hitters_stream(
    step_id: str,
    up: KeyedStream,
    item_col: str,
    k: int = 10,
    capacity: int | None = None,
) -> KeyedStream:
    """Streaming top-k heavy hitters per key via the SPACE-SAVING
    sketch (Metwally, Agrawal, El Abbadi 2005 — public algorithm):
    ``capacity`` counters per key, an unseen item evicts the minimum
    counter and inherits its count as its error bound. Guarantees:
    every item with true frequency > N/capacity is present, and
    ``count_est - err_bound <= true <= count_est``.

    This is the unbounded-stream complement of the exact two-phase
    rank in ``functions/topk.py``: exact top-k needs the whole corpus
    (a shuffle per query); this holds O(capacity) state per key
    FOREVER — at 100 TB/day the sketch is the only option for "top
    domains right now" dashboards. Emits the running top-k after each
    micro-batch (downstream takes the latest; in batch mode that is the
    top-k over all rows). Output: (key, item, count_est, err_bound).
    With ``capacity`` >= distinct items, counts are exact and
    err_bound is 0."""
    if capacity is None:
        capacity = 10 * k
    if capacity < k:
        raise ValueError(f"capacity {capacity} < k {k}")

    class _SpaceSaving(StatefulBatchLogic):
        def __init__(self, snap):
            self.counters: dict = snap if snap is not None else {}

        def on_batch(self, pdf):
            for it in pdf[item_col]:
                c = self.counters.get(it)
                if c is not None:
                    self.counters[it] = (c[0] + 1, c[1])
                elif len(self.counters) < capacity:
                    self.counters[it] = (1, 0)
                else:
                    # evict the min counter (deterministic tie-break);
                    # the newcomer inherits its count as error bound
                    victim, (cmin, _) = min(
                        self.counters.items(), key=lambda kv: (kv[1][0], str(kv[0]))
                    )
                    del self.counters[victim]
                    self.counters[it] = (cmin + 1, cmin)
            top = sorted(
                self.counters.items(), key=lambda kv: (-kv[1][0], str(kv[0]))
            )[:k]
            return pd.DataFrame(
                {
                    item_col: [t[0] for t in top],
                    "count_est": [t[1][0] for t in top],
                    "err_bound": [t[1][1] for t in top],
                }
            ), self.RETAIN

        def snapshot(self):
            return self.counters

    up = _require_keyed(step_id, up)
    schema = _out_schema(
        up.df, up.key_col, item_col, ("count_est", LongType()), ("err_bound", LongType())
    )
    return stateful_batch(step_id, up, _SpaceSaving, schema=schema)


def collect_stream(
    step_id: str,
    up: KeyedStream,
    value_col: str,
    timeout: timedelta,
    max_size: int,
    order_by: str | None = None,
) -> KeyedStream:
    """Streaming ``collect``: per-key batches emitted when ``max_size``
    values accumulate OR ``timeout`` elapses since the last emit —
    the reference's size/timeout pair (``operators/__init__.py:
    1106-1218``), which no Spark built-in provides (``collect_list``
    has no trigger). Built on :func:`stateful_batch` with a
    processing-time timer ≙ the reference's ``notify_at``.

    Output rows: ``(key, values: array)``. State per key is at most
    ``max_size`` buffered values — bounded, checkpoint-covered.

    ``order_by`` sorts each delivered micro-batch's rows for a key
    before buffering: the shuffle to the stateful operator does not
    preserve source order (the reference's per-worker arrival order),
    so deterministic chunking needs an explicit order column.
    Cross-batch order is micro-batch arrival, as in the reference.
    """
    if max_size < 1:
        raise ValueError("max_size must be >= 1")
    if timeout < timedelta(milliseconds=1):
        # the processing-time timer counts whole milliseconds
        raise ValueError(f"timeout must be at least 1 ms, got {timeout!r}")

    class _Collect(StatefulBatchLogic):
        def __init__(self, snap):
            self.buf = list(snap) if snap else []

        def on_batch(self, pdf):
            if order_by is not None:
                pdf = pdf.sort_values(order_by)
            self.buf.extend(pdf[value_col].tolist())
            out = []
            while len(self.buf) >= max_size:
                out.append(self.buf[:max_size])
                self.buf = self.buf[max_size:]
            if out:
                return pd.DataFrame({"values": out}), self.RETAIN
            return None, self.RETAIN

        def on_notify(self):
            if self.buf:
                out = pd.DataFrame({"values": [self.buf]})
                self.buf = []
                return out, self.RETAIN
            return None, self.DISCARD

        def on_eof(self):
            # batch mode / final flush: emit the partial tail
            return self.on_notify()

        def notify_at(self):
            return timeout if self.buf else None

        def snapshot(self):
            return self.buf

    up = _require_keyed(step_id, up)
    schema = _out_schema(up.df, up.key_col, ("values", ArrayType(up.df.schema[value_col].dataType)))
    return stateful_batch(step_id, up, _Collect, schema=schema, timers="processing")


def interval_join_stream(
    step_id: str,
    left: KeyedStream,
    right: KeyedStream,
    left_ts: str,
    right_ts: str,
    lower: timedelta,
    upper: timedelta,
    watermark: timedelta,
) -> KeyedStream:
    """Watermarked STREAM-STREAM interval join: emit (left, right) for
    same-key rows with ``left_ts + lower <= right_ts <= left_ts +
    upper`` — the unbounded-stream form of ``op.interval_join``
    (clicks joined to purchases within the following hour, as both
    arrive live). The reference can only express this as a running
    join that retains state forever; the Spark-native form is
    bounded by construction.

    Both sides get an event-time watermark and the range condition is
    part of the join predicate — exactly the shape Structured
    Streaming requires to PRUNE join state: each side buffers only
    rows younger than watermark + the range width, so state is
    O(arrival rate × horizon) regardless of stream length. Without
    the time bound a stream-stream join must keep every row forever
    (Spark refuses it in append mode for good reason).

    Late rows beyond ``watermark`` are dropped by the engine. Output
    columns: key + both sides' value columns (names must be disjoint
    apart from the key, like ``op.interval_join``)."""
    left = _require_keyed(step_id, left)
    right = _require_keyed(step_id, right)
    key = left.key_col
    if right.key_col != key:
        raise ValueError("interval_join_stream sides must share the key column name")
    if upper < lower:
        raise ValueError(f"need lower <= upper, got {lower} > {upper}")
    if not (left.df.isStreaming and right.df.isStreaming):
        raise ValueError(
            "interval_join_stream requires two streaming inputs; "
            "use op.interval_join in batch"
        )
    overlap = (set(left.df.columns) & set(right.df.columns)) - {key}
    if overlap:
        raise ValueError(f"interval_join_stream value columns overlap: {sorted(overlap)}")
    flow = left.flow
    fq = flow.register(step_id, "interval_join_stream", (left.step_id, right.step_id))

    from bytewax_spark.operators.windowing import _interval, _quoted, _us

    wm = _interval(watermark)
    lw = left.df.withWatermark(_quoted(left_ts), wm)
    rw = right.df.withWatermark(_quoted(right_ts), wm).withColumnRenamed(key, "_rk")
    # raw event-time comparisons with INTERVAL literals: the streaming
    # planner derives its state-eviction bounds by analyzing exactly
    # this shape (wrapping the columns in conversions would defeat it)
    lo = F.expr(f"INTERVAL {_us(lower)} MICROSECOND")
    hi = F.expr(f"INTERVAL {_us(upper)} MICROSECOND")
    cond = (
        (F.col(key) == F.col("_rk"))
        & (F.col(right_ts) >= F.col(left_ts) + lo)
        & (F.col(right_ts) <= F.col(left_ts) + hi)
    )
    out = lw.join(rw, cond).drop("_rk")
    return KeyedStream(flow, fq, out, key)


def distinct_count_stream(
    step_id: str,
    up: KeyedStream,
    item_col: str,
    p: int = 12,
) -> KeyedStream:
    """Streaming approximate distinct count per key via HyperLogLog
    registers: state is at most ``2**p`` small ints per key FOREVER —
    the bounded-state complement of an exact streaming
    ``dropDuplicates`` (whose state grows with the distinct count and
    needs a watermark TTL to survive). At ~1.04/sqrt(2**p) relative
    error (p=12 ≈ 1.6%), this is the "distinct users right now per
    segment" dashboard operator for unbounded streams.

    Emits the running ``(key, est)`` after each micro-batch
    (downstream takes the latest; in batch mode, one row per key). The
    hash and estimator are EXACTLY the batch ones
    (:func:`bytewax_spark.functions.sketches.hll_build` /
    ``hll_estimate``: md5-derived 60-bit hash, integer-scaled harmonic
    sum, linear-counting small-range branch), so a streamed estimate
    equals the batch estimate over the same rows — tested, and the
    snapshot/restore of the sparse register dict rides the standard
    checkpoint path."""
    import hashlib
    import math

    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    m = 1 << p
    wbits = 60 - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    scale = float(1 << (wbits + 1))

    class _HLL(StatefulBatchLogic):
        def __init__(self, snap):
            self.regs: dict = dict(snap) if snap else {}

        def on_batch(self, pdf):
            for it in pdf[item_col]:
                h = int(hashlib.md5(str(it).encode()).hexdigest()[:15], 16)
                idx = h >> wbits
                w = h & ((1 << wbits) - 1)
                rank = wbits + 1 if w == 0 else wbits - (w.bit_length() - 1)
                if rank > self.regs.get(idx, 0):
                    self.regs[idx] = rank
            v = m - len(self.regs)
            ssum = sum(1 << (wbits + 1 - r) for r in self.regs.values())
            raw = alpha * m * m / ((v * scale + ssum) / scale)
            est = m * math.log(m / v) if (raw <= 2.5 * m and v > 0) else raw
            return pd.DataFrame({"est": [int(round(est))]}), self.RETAIN

        def snapshot(self):
            return self.regs

    up = _require_keyed(step_id, up)
    schema = _out_schema(up.df, up.key_col, ("est", LongType()))
    return stateful_batch(step_id, up, _HLL, schema=schema)


def frequency_cap_stream(
    step_id: str,
    up: KeyedStream,
    item_col: str,
    cap: int,
    width: int = 1024,
    depth: int = 4,
    order_by: str | None = None,
) -> KeyedStream:
    """Streaming frequency cap: pass each row through only while its
    item's RUNNING count (per key) is <= ``cap``, tracked in a
    count-min sketch — ``depth * width`` counters of state per key
    FOREVER, however many distinct items flow past. The bounded-state
    version of "at most N occurrences of any item" (repeat-capping a
    training stream, ad frequency capping): an exact counter map grows
    with the distinct-item count; the sketch never does.

    One-sided error, the safe direction for capping: the CMS estimate
    only over-counts, so a kept row is GUARANTEED under the cap; a
    rare over-estimate may drop an item early (tune ``width`` to the
    tolerated over-count rate). Hashing matches
    :func:`bytewax_spark.functions.sketches.countmin_build` (md5
    digest splitting).

    ``order_by`` sorts each delivered micro-batch per key before
    counting — arrival order within a batch is not deterministic
    after the shuffle to the stateful operator, so reproducible runs
    need an explicit order column (same contract as
    ``collect_stream``)."""
    import hashlib

    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    if width <= 0 or depth <= 0:
        raise ValueError(f"width/depth must be positive, got {width}/{depth}")

    def _positions(item) -> list[int]:
        out = []
        for d in range((depth + 3) // 4):
            salt = f"cm{d}:" if d else ""
            digest = hashlib.md5((salt + str(item)).encode()).hexdigest()
            for c in range(min(4, depth - 4 * d)):
                out.append(int(digest[8 * c : 8 * c + 8], 16) % width)
        return out

    class _FreqCap(StatefulBatchLogic):
        def __init__(self, snap):
            self.counters: dict = dict(snap) if snap else {}

        def on_batch(self, pdf):
            if order_by is not None:
                pdf = pdf.sort_values(order_by)
            keep = []
            for i, it in enumerate(pdf[item_col]):
                pos = _positions(it)
                est = min(self.counters.get((d, b), 0) for d, b in enumerate(pos))
                if est < cap:
                    keep.append(i)
                    for d, b in enumerate(pos):
                        self.counters[(d, b)] = self.counters.get((d, b), 0) + 1
            return (pdf.iloc[keep] if keep else None), self.RETAIN

        def snapshot(self):
            return self.counters

    up = _require_keyed(step_id, up)
    return stateful_batch(step_id, up, _FreqCap, schema=up.df.schema)


def funnel_stream(
    step_id: str,
    up: KeyedStream,
    ts_col: str,
    type_col: str,
    steps: list[str],
    tiebreak_col: str | None = None,
) -> KeyedStream:
    """Streaming ordered-step funnel per key: state is ONE (step
    pointer, timestamp) pair per key — O(1) forever, regardless of
    event volume. Each time the key's pointer advances (its first
    step-i event at-or-after its step-(i-1) time, the same sequential
    rule as the batch ``functions.behavior.funnel``), a row
    ``(key, step_idx, step, ts)`` is emitted; a key that completes the
    last step keeps its pointer past it, so its later rows emit
    nothing in any micro-batch (the conversion is final).

    Rows are replayed in timestamp order WITHIN each micro-batch,
    scanning equal-timestamp GROUPS rather than individual rows: the
    batch operator's ts-only ``>=`` rule means several steps may
    advance at one timestamp and the order of same-timestamp rows is
    semantically irrelevant — so a step-i row sharing its timestamp
    with the step-(i-1) row is credited regardless of how a tiebreak
    would sort them (row-at-a-time scanning silently skipped it).
    ``tiebreak_col`` is retained for API compatibility and
    deterministic replay, but carries no semantic weight. Ordering
    across micro-batches is arrival order — the standard
    streaming-funnel semantics. When the input is globally ts-ordered
    (or batch mode, where each key sees all its rows at once), the
    advancement times equal the batch operator's — tested."""
    if not steps:
        raise ValueError("funnel_stream needs at least one step")
    last = len(steps) - 1
    sort_cols = [ts_col] + ([tiebreak_col] if tiebreak_col else [])

    class _Funnel(StatefulBatchLogic):
        def __init__(self, snap):
            # (next step index to look for, time of last reached step)
            self.nxt, self.t = snap if snap is not None else (0, None)

        def on_batch(self, pdf):
            out = []
            for ts, grp in pdf.sort_values(sort_cols).groupby(ts_col, sort=True):
                if self.nxt > last:
                    break
                if self.t is not None and ts < self.t:
                    continue
                types = set(grp[type_col])
                while self.nxt <= last and steps[self.nxt] in types:
                    out.append((self.nxt + 1, steps[self.nxt], ts))
                    self.t = ts
                    self.nxt += 1
            emit = pd.DataFrame(out, columns=["step_idx", "step", ts_col]) if out else None
            return emit, self.RETAIN

        def snapshot(self):
            return (self.nxt, self.t)

    up = _require_keyed(step_id, up)
    schema = _out_schema(
        up.df, up.key_col, ("step_idx", IntegerType()), ("step", StringType()), ts_col
    )
    return stateful_batch(step_id, up, _Funnel, schema=schema)


def zscore_anomaly_stream(
    step_id: str,
    up: KeyedStream,
    val_col: str,
    threshold: float = 3.0,
    min_n: int = 10,
    order_by: str | None = None,
) -> KeyedStream:
    """Streaming anomaly detection per key: each value is z-scored
    against the key's RUNNING mean/variance (Welford's online update,
    public) and emitted when ``|z| > threshold``; state is three
    numbers per key forever. The "alert on weird values per sensor"
    operator — the streaming complement of the batch
    ``functions.stats.standardize`` + ``outlier_counts`` pair.

    Each row is scored against the statistics of the values BEFORE it
    (so an outlier can't mask itself), then folded in; no alerts until
    ``min_n`` prior values exist (cold-start guard). ``order_by``
    sorts rows inside each micro-batch for a deterministic replay;
    cross-batch order is arrival order, as for every streaming
    operator here. Emits ``(key, value, z)`` rows."""
    if threshold <= 0 or min_n < 2:
        raise ValueError(
            f"threshold must be > 0 and min_n >= 2, got {threshold}, {min_n}"
        )

    class _Welford(StatefulBatchLogic):
        def __init__(self, snap):
            self.n, self.mean, self.m2 = snap if snap is not None else (0, 0.0, 0.0)

        def on_batch(self, pdf):
            out = []
            rows = pdf.sort_values(order_by) if order_by else pdf
            for v in rows[val_col]:
                x = float(v)
                if self.n >= min_n:
                    var = self.m2 / self.n
                    if var > 0:
                        z = (x - self.mean) / (var ** 0.5)
                        if abs(z) > threshold:
                            out.append((x, round(z, 6)))
                self.n += 1
                d = x - self.mean
                self.mean += d / self.n
                self.m2 += d * (x - self.mean)
            return (pd.DataFrame(out, columns=[val_col, "z"]) if out else None), self.RETAIN

        def snapshot(self):
            return (self.n, self.mean, self.m2)

    up = _require_keyed(step_id, up)
    schema = _out_schema(up.df, up.key_col, (val_col, DoubleType()), ("z", DoubleType()))
    return stateful_batch(step_id, up, _Welford, schema=schema)


def dedup_ttl_stream(
    step_id: str,
    up: KeyedStream,
    item_col: str,
    ts_col: str,
    ttl,
) -> KeyedStream:
    """Streaming TTL dedup per key: a row passes iff the same
    ``item_col`` value was NOT emitted within ``ttl`` of it — emit,
    suppress repeats for the TTL, emit again (alert-throttling /
    at-least-once-source dedup semantics, keyed). Reference users
    hand-roll exactly this with ``stateful_flat_map`` + a timestamp
    dict (reference pysrc/bytewax/operators/__init__.py stateful
    docs); here it is a first-class bounded-state operator.

    State per key is ``{item-hash: last-emitted-ts}`` and every batch
    PRUNES entries older than ``ttl`` behind the max timestamp seen —
    bounded by the distinct items per TTL horizon, never by stream
    length, and snapshot/restore rides the standard checkpoint path.
    Rows process in ``ts_col`` order (stable-sorted within each
    batch, ties by item), so the result does not depend on arrival
    order inside a batch. It equals batch mode over the same rows only
    when no row of a micro-batch is older than the max ``ts_col`` of
    the earlier batches. With a ``ttl`` of 1 h, a late X@09:00 after
    a batch of X@08:30 and Y@10:00 is emitted, because that batch
    pruned X behind 10:00 (batch mode suppresses it); a late X@09:30
    after X@10:00 is suppressed (batch mode keeps it instead of
    X@10:00).
    """
    if not isinstance(ttl, timedelta) or ttl <= timedelta(0):
        raise ValueError(f"ttl must be a positive timedelta, got {ttl!r}")

    class _TtlDedup(StatefulBatchLogic):
        def __init__(self, snap):
            self.last: dict = dict(snap) if snap else {}

        def on_batch(self, pdf):
            pdf = pdf.sort_values([ts_col, item_col], kind="mergesort")
            keep = []
            hi = None
            for i, (it, ts) in enumerate(zip(pdf[item_col], pdf[ts_col])):
                hi = ts if hi is None or ts > hi else hi
                prev = self.last.get(it)
                if prev is None or ts - prev >= ttl:
                    keep.append(i)
                    self.last[it] = ts
            if hi is not None:
                floor = hi - ttl
                self.last = {k: v for k, v in self.last.items() if v > floor}
            return (pdf.iloc[keep] if keep else None), self.RETAIN

        def snapshot(self):
            return self.last

    up = _require_keyed(step_id, up)
    return stateful_batch(step_id, up, _TtlDedup, schema=up.df.schema)


def moments_stream(
    step_id: str,
    up: KeyedStream,
    val_col: str,
    lo: float,
    hi: float,
    k: int = 4,
) -> KeyedStream:
    """Streaming moments quantile sketch per key (Gan et al. 2018,
    public; batch twin: ``functions.sketches.moments_build``): state
    is ``k + 3`` EXACT integers per key forever — count, scaled
    min/max, and the first ``k`` power sums of the range-scaled value
    (Python ints never overflow, matching the batch build's
    DECIMAL(38,0) bit-for-bit). Read quantiles from the emitted rows
    with ``functions.sketches.moments_quantiles``.

    Quantization matches the batch side exactly: HALF-UP rounding of
    ``(clamp(v)-lo)/(hi-lo) * 2S`` (Spark's ``F.round``; Python's
    banker's ``round`` would disagree on .5 boundaries), ``S = 2 **
    moments_scale_bits(k)``. Emits the key's RUNNING sketch after each
    batch; over all rows it equals the grouped batch build, which the
    tests assert. Power sums emit as strings (the exact value survives
    any transport width)."""
    import math

    from bytewax_spark.functions.sketches import moments_scale_bits

    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    s_cap = 1 << moments_scale_bits(k)

    class _Moments(StatefulBatchLogic):
        def __init__(self, snap):
            if snap is not None:
                self.n, self.smin, self.smax, self.ms = (
                    snap[0],
                    snap[1],
                    snap[2],
                    [int(m) for m in snap[3]],
                )
            else:
                self.n, self.smin, self.smax, self.ms = 0, None, None, [0] * k

        def on_batch(self, pdf):
            for v in pdf[val_col]:
                x = min(max(float(v), lo), hi)
                s = int(math.floor((x - lo) / (hi - lo) * (2 * s_cap) + 0.5)) - s_cap
                self.n += 1
                self.smin = s if self.smin is None else min(self.smin, s)
                self.smax = s if self.smax is None else max(self.smax, s)
                p = 1
                for i in range(k):
                    p *= s
                    self.ms[i] += p
            return pd.DataFrame(
                [(self.n, self.smin, self.smax) + tuple(str(m) for m in self.ms)],
                columns=["n", "smin", "smax"] + [f"m{i+1}" for i in range(k)],
            ), self.RETAIN

        def snapshot(self):
            return (self.n, self.smin, self.smax, [str(m) for m in self.ms])

    up = _require_keyed(step_id, up)
    schema = _out_schema(
        up.df,
        up.key_col,
        *[(c, LongType()) for c in ("n", "smin", "smax")],
        *[(f"m{i+1}", StringType()) for i in range(k)],
    )
    return stateful_batch(step_id, up, _Moments, schema=schema)


def sample_stream(
    step_id: str,
    up: KeyedStream,
    item_col: str,
    n: int = 32,
    salt: str = "",
) -> KeyedStream:
    """Streaming uniform sample per key with O(n) state FOREVER: keep
    the ``n`` items whose salted md5 hash sorts lowest (min-wise /
    bottom-k sampling — the deterministic reservoir: membership
    depends only on (item, salt), never on arrival order, so streamed
    == batch == re-run, unlike an RNG reservoir). The bounded-state
    "show me examples per key" operator: distinct-item volume never
    grows the state past ``n`` (hash, item) pairs per key.

    Hashing matches ``functions.text.hash64`` (md5-derived), so batch
    mode equals ``functions.sampling.sample_exact_n`` run per key —
    SQL-oracle exact. Emits the key's CURRENT sample after each
    micro-batch, one row per kept item ``(key, item, rk)`` with ``rk``
    the 1-based hash rank."""
    import hashlib

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")

    def _h(item) -> int:
        d = hashlib.md5((salt + str(item)).encode()).hexdigest()
        return int(d[:15], 16)

    class _Sample(StatefulBatchLogic):
        def __init__(self, snap):
            # state: list of (hash, item) sorted ascending, <= n long
            self.kept = [tuple(x) for x in snap] if snap else []

        def on_batch(self, pdf):
            changed = False
            for it in pdf[item_col]:
                pair = (_h(it), it)
                if pair in self.kept:
                    continue
                self.kept.append(pair)
                changed = True
            if changed:
                self.kept = sorted(set(self.kept))[:n]
            return pd.DataFrame(
                [(it, i + 1) for i, (_, it) in enumerate(self.kept)],
                columns=[item_col, "rk"],
            ), self.RETAIN

        def snapshot(self):
            return [list(p) for p in self.kept]

    up = _require_keyed(step_id, up)
    schema = _out_schema(up.df, up.key_col, item_col, ("rk", IntegerType()))
    return stateful_batch(step_id, up, _Sample, schema=schema)


def ewma_stream(
    step_id: str,
    up: KeyedStream,
    val_col: str,
    ts_col: str,
    tiebreak_col: str,
    num: int = 1,
    den: int = 8,
) -> KeyedStream:
    """Streaming exponentially-weighted moving average per key —
    O(1) state (count + last level): each value folds through
    ``e = (num·x + (den−num)·e) div den`` on int64 micros, the same
    truncating integer recurrence as the batch twin
    (``functions.timeseries.ewma``), so streamed == batch == replay
    bit-for-bit. Rows process in ``(ts, tiebreak)`` order within each
    batch (order-deterministic, not arrival-dependent — the
    dedup_ttl_stream convention). Emits the key's RUNNING level after
    each batch: ``(key, n, ewma_micro)``."""
    if not (0 < num < den):
        raise ValueError(f"need 0 < num < den, got {num}/{den}")

    class _Ewma(StatefulBatchLogic):
        def __init__(self, snap):
            self.n, self.e = snap if snap is not None else (0, None)

        def on_batch(self, pdf):
            pdf = pdf.sort_values([ts_col, tiebreak_col], kind="mergesort")
            for v in pdf[val_col]:
                x = int(v)
                if self.e is None:
                    self.e = x
                else:
                    self.e = _tdiv(num * x + (den - num) * self.e, den)
                self.n += 1
            return pd.DataFrame([(self.n, self.e)], columns=["n", "ewma_micro"]), self.RETAIN

        def snapshot(self):
            return (self.n, self.e)

    up = _require_keyed(step_id, up)
    schema = _out_schema(up.df, up.key_col, ("n", LongType()), ("ewma_micro", LongType()))
    return stateful_batch(step_id, up, _Ewma, schema=schema)


def holt_stream(
    step_id: str,
    up: KeyedStream,
    val_col: str,
    ts_col: str,
    tiebreak_col: str,
    alpha=(1, 4),
    beta=(1, 4),
) -> KeyedStream:
    """Streaming Holt double exponential smoothing per key — O(1)
    state (count + level + trend): the same truncating two-state
    integer recurrence as the batch twin
    (``functions.timeseries.holt_linear``), so streamed == batch ==
    replay bit-for-bit; rows process in ``(ts, tiebreak)`` order
    within each batch. Emits the running state after each batch:
    ``(key, n, level_micro, trend_micro)`` — one-step forecast =
    level + trend."""
    an, ad = alpha
    bn, bd = beta
    if not (0 < an < ad and 0 < bn < bd):
        raise ValueError(f"need 0 < num < den for alpha/beta, got {alpha}, {beta}")

    class _Holt(StatefulBatchLogic):
        def __init__(self, snap):
            self.n, self.l, self.b = snap if snap is not None else (0, None, 0)

        def on_batch(self, pdf):
            pdf = pdf.sort_values([ts_col, tiebreak_col], kind="mergesort")
            for v in pdf[val_col]:
                x = int(v)
                if self.l is None:
                    self.l, self.b = x, 0
                else:
                    nl = _tdiv(an * x + (ad - an) * (self.l + self.b), ad)
                    self.b = _tdiv(bn * (nl - self.l) + (bd - bn) * self.b, bd)
                    self.l = nl
                self.n += 1
            return pd.DataFrame(
                [(self.n, self.l, self.b)], columns=["n", "level_micro", "trend_micro"]
            ), self.RETAIN

        def snapshot(self):
            return (self.n, self.l, self.b)

    up = _require_keyed(step_id, up)
    schema = _out_schema(
        up.df, up.key_col, *[(c, LongType()) for c in ("n", "level_micro", "trend_micro")]
    )
    return stateful_batch(step_id, up, _Holt, schema=schema)


def cusum_stream(
    step_id: str,
    up: KeyedStream,
    val_col: str,
    ts_col: str,
    tiebreak_col: str,
    target_micro: int,
    drift_micro: int = 0,
    threshold_micro: int = 0,
) -> KeyedStream:
    """Page's one-sided CUSUM test per key (Page 1954 — the ONLINE
    form, unlike the batch locator in ``functions.timeseries.
    cusum_changepoint`` which needs the global mean): state is one
    int64, ``S = max(0, S + (x − target − drift))`` on micro inputs,
    alarming when ``S > threshold``. Emits one row per key after each
    batch: ``(key, n, s_micro, alarms, first_alarm_ts)`` — alarms
    counts threshold crossings evaluated AFTER each fold step; the S
    statistic resets to 0 is NOT applied on alarm (the monitoring
    convention where the operator reports and the caller decides).
    Rows process in ``(ts, tiebreak)`` order, so streamed == batch ==
    a recursive-CTE replay, exactly."""

    class _Cusum(StatefulBatchLogic):
        def __init__(self, snap):
            if snap is not None:
                self.n, self.s, self.alarms, self.first_ts = snap
            else:
                self.n, self.s, self.alarms, self.first_ts = 0, 0, 0, None

        def on_batch(self, pdf):
            pdf = pdf.sort_values([ts_col, tiebreak_col], kind="mergesort")
            for v, t in zip(pdf[val_col], pdf[ts_col]):
                self.s = max(0, self.s + int(v) - target_micro - drift_micro)
                self.n += 1
                if self.s > threshold_micro:
                    self.alarms += 1
                    if self.first_ts is None:
                        self.first_ts = t
            return pd.DataFrame(
                [(self.n, self.s, self.alarms, self.first_ts)],
                columns=["n", "s_micro", "alarms", "first_alarm_ts"],
            ), self.RETAIN

        def snapshot(self):
            return (self.n, self.s, self.alarms, self.first_ts)

    up = _require_keyed(step_id, up)
    schema = _out_schema(
        up.df,
        up.key_col,
        *[(c, LongType()) for c in ("n", "s_micro", "alarms")],
        ("first_alarm_ts", TimestampType()),
    )
    return stateful_batch(step_id, up, _Cusum, schema=schema)
