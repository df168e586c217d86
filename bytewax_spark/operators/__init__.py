"""Operator inventory — stateless + keyed-stateful transforms.

Mirrors the reference's operator surface
(``/root/reference/pysrc/bytewax/operators/__init__.py``; inventory in
SURVEY.md §2) re-expressed as DataFrame lineage extensions. Every
operator has a **columnar fast path** (pure ``pyspark.sql.functions``
expressions → whole-stage codegen, pushdown, partial aggregation) and,
where the reference accepts arbitrary Python callables, an **opaque
path** through Arrow-batched ``mapInPandas`` / ``applyInPandas`` with
an explicit output schema.

Design rules (scale posture):

- Stateless ops never shuffle.
- Keyed ``*_final`` ops compile to ``groupBy(key).agg(...)`` — one hash
  shuffle with map-side partial aggregation (the reference's
  ``pre_reducer``, ``operators/__init__.py:2836-2847``, is automatic
  here).
- ``first``/``last`` insert modes use ``min_by``/``max_by`` aggregates
  (single shuffle) instead of window-sort (shuffle + sort).
- ``join`` lets Catalyst pick broadcast/SMJ/shuffle-hash; callers can
  pass pre-broadcast streams for known-small sides.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable, Mapping, Sequence
from dataclasses import dataclass
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bytewax_spark.dataflow import DEFAULT_KEY_COL, Dataflow, KeyedStream, Stream

__all__ = [
    "input",
    "output",
    "map",
    "map_value",
    "filter",
    "filter_value",
    "filter_map",
    "filter_map_value",
    "flat_map",
    "flat_map_value",
    "flat_map_batch",
    "flatten",
    "branch",
    "BranchOut",
    "merge",
    "redistribute",
    "inspect",
    "inspect_debug",
    "observe",
    "MetricsListener",
    "raises",
    "key_on",
    "key_rm",
    "enrich_cached",
    "TTLCache",
    "fold_final",
    "reduce_final",
    "count_final",
    "max_final",
    "min_final",
    "collect",
    "stateful_map",
    "stateful_flat_map",
    "join",
    "running_join",
    "asof_join",
    "interval_join",
    "JoinMode",
]

_py_map = map  # keep builtins reachable; this module shadows map/filter/input
_py_filter = filter


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _projection(mapper: Mapping[str, Column | str]) -> list[Column]:
    return [_col(expr).alias(name) for name, expr in mapper.items()]


def _keep_keyed(up: Stream, step_id: str, df: DataFrame) -> Stream:
    """Preserve keyed-ness across a transform when the key col survives."""
    if isinstance(up, KeyedStream) and up.key_col in df.columns:
        return KeyedStream(up.flow, step_id, df, up.key_col)
    return Stream(up.flow, step_id, df)


def _require_keyed(step_id: str, up: Stream) -> KeyedStream:
    if not isinstance(up, KeyedStream):
        raise TypeError(
            f"step {step_id!r} requires a KeyedStream; call op.key_on(...) first "
            "(reference enforces str keys for stateful steps, src/operators.rs:363-416)"
        )
    return up


# ---------------------------------------------------------------------------
# input / output (reference: operators/__init__.py:240-289, :449-494)
# ---------------------------------------------------------------------------

def input(step_id: str, flow: Dataflow, source: Any) -> Stream:  # noqa: A001
    """Introduce items from a source.

    ``source`` may be a :class:`bytewax_spark.sources.Source`, a
    DataFrame, or a parquet path string. Batch sources become
    ``spark.read`` scans (full pushdown); streaming sources become
    ``spark.readStream``.
    """
    from bytewax_spark.sources import Source

    if isinstance(source, Source):
        df = source.to_df()
    elif isinstance(source, DataFrame):
        df = source
    elif isinstance(source, str):
        from bytewax_spark.io import read_parquet
        from bytewax_spark.session import get_spark

        df = read_parquet(get_spark(), source)
    else:
        raise TypeError(f"unsupported source type {type(source).__name__}")
    fq = flow.register(step_id, "input", ())
    return Stream(flow, fq, df)


def output(step_id: str, up: Stream, sink: Any) -> None:
    """Queue a sink for this stream; executed by ``run.run_main(flow)``
    (batch: ``df.write``; streaming: ``writeStream`` with checkpoint)."""
    fq = up.flow.register(step_id, "output", (up.step_id,))
    up.flow.sinks.append((fq, up, sink))


# ---------------------------------------------------------------------------
# the universal opaque primitive (reference flat_map_batch,
# operators/__init__.py:179-237 → src/operators.rs:122-228)
# ---------------------------------------------------------------------------

def flat_map_batch(
    step_id: str,
    up: Stream,
    mapper: Callable[[pd.DataFrame], pd.DataFrame | Iterable[pd.DataFrame]],
    schema: Any,
) -> Stream:
    """Arrow-batch → batch(es) transform; may change the row count.

    The opaque escape hatch: ``mapper`` receives a pandas DataFrame per
    Arrow batch and returns one (or yields several). Everything that
    CAN be a column expression should be — this path moves data
    JVM→Arrow→Python and back.
    """
    fq = up.flow.register(step_id, "flat_map_batch", (up.step_id,))

    def run(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            out = mapper(pdf)
            if isinstance(out, pd.DataFrame):
                yield out
            else:
                yield from out

    return _keep_keyed(up, fq, up.df.mapInPandas(run, schema=schema))


# ---------------------------------------------------------------------------
# stateless family (reference: operators/__init__.py §2.2)
# ---------------------------------------------------------------------------

def map(  # noqa: A001
    step_id: str,
    up: Stream,
    mapper: Mapping[str, Column | str] | Callable[[pd.DataFrame], pd.DataFrame],
    schema: Any | None = None,
) -> Stream:
    """1→1 transform.

    Columnar: ``mapper`` is ``{out_name: Column}`` → a pure projection
    (``SELECT``). Opaque: a ``pdf → pdf`` callable with ``schema``.
    """
    if isinstance(mapper, Mapping):
        fq = up.flow.register(step_id, "map", (up.step_id,))
        return _keep_keyed(up, fq, up.df.select(*_projection(mapper)))
    if schema is None:
        raise ValueError(f"step {step_id!r}: callable mapper requires an output schema")
    return flat_map_batch(step_id, up, mapper, schema)


def map_value(
    step_id: str,
    up: KeyedStream,
    mapper: Mapping[str, Column | str],
) -> KeyedStream:
    """Map the value columns, preserving the key column untouched."""
    up = _require_keyed(step_id, up)
    fq = up.flow.register(step_id, "map_value", (up.step_id,))
    cols = [F.col(up.key_col), *_projection({k: v for k, v in mapper.items() if k != up.key_col})]
    return KeyedStream(up.flow, fq, up.df.select(*cols), up.key_col)


def filter(  # noqa: A001
    step_id: str,
    up: Stream,
    predicate: Column | str | Callable[[pd.DataFrame], pd.Series],
) -> Stream:
    """Keep rows where the predicate holds (``WHERE`` — pushed down)."""
    if callable(predicate) and not isinstance(predicate, Column):
        def keep(pdf: pd.DataFrame) -> pd.DataFrame:
            return pdf[predicate(pdf).astype(bool)]

        fq = up.flow.register(step_id, "filter", (up.step_id,))
        return _keep_keyed(up, fq, up.df.mapInPandas(lambda it: (keep(p) for p in it), schema=up.df.schema))
    fq = up.flow.register(step_id, "filter", (up.step_id,))
    return _keep_keyed(up, fq, up.df.filter(predicate if isinstance(predicate, str) else _col(predicate)))


def filter_value(step_id: str, up: KeyedStream, predicate: Column | str) -> KeyedStream:
    up = _require_keyed(step_id, up)
    fq = up.flow.register(step_id, "filter_value", (up.step_id,))
    return up._with_keyed(fq, up.df.filter(_col(predicate)))


def filter_map(
    step_id: str,
    up: Stream,
    mapper: Mapping[str, Column | str],
    keep: Column | str | None = None,
) -> Stream:
    """Map then drop nulls: rows where any mapped column is NULL are
    dropped (reference drops ``None`` returns), unless an explicit
    ``keep`` predicate is given."""
    fq = up.flow.register(step_id, "filter_map", (up.step_id,))
    projected = up.df.select(*_projection(mapper))
    if keep is not None:
        projected = projected.filter(_col(keep))
    else:
        cond = None
        for name in mapper:
            c = F.col(name).isNotNull()
            cond = c if cond is None else (cond & c)
        if cond is not None:
            projected = projected.filter(cond)
    return _keep_keyed(up, fq, projected)


def filter_map_value(
    step_id: str, up: KeyedStream, mapper: Mapping[str, Column | str]
) -> KeyedStream:
    up = _require_keyed(step_id, up)
    fq = up.flow.register(step_id, "filter_map_value", (up.step_id,))
    cols = [F.col(up.key_col), *_projection(mapper)]
    out = up.df.select(*cols)
    for name in mapper:
        out = out.filter(F.col(name).isNotNull())
    return KeyedStream(up.flow, fq, out, up.key_col)


def flat_map(
    step_id: str,
    up: Stream,
    mapper: Column | str | Callable[[pd.DataFrame], pd.DataFrame],
    alias: str = "item",
    keep: list[str] | None = None,
    schema: Any | None = None,
) -> Stream:
    """1→many.

    Columnar: ``mapper`` is an array-typed Column; each element becomes
    a row aliased ``alias``, keeping ``keep`` passthrough columns
    (``explode`` — codegen'd, no Python). Opaque: pdf→pdf callable with
    ``schema`` (may emit any number of rows).
    """
    if callable(mapper) and not isinstance(mapper, Column):
        if schema is None:
            raise ValueError(f"step {step_id!r}: callable mapper requires schema")
        return flat_map_batch(step_id, up, mapper, schema)
    fq = up.flow.register(step_id, "flat_map", (up.step_id,))
    cols = [F.col(c) for c in (keep or [])]
    return _keep_keyed(up, fq, up.df.select(*cols, F.explode(_col(mapper)).alias(alias)))


def flat_map_value(
    step_id: str, up: KeyedStream, mapper: Column | str, alias: str = "value"
) -> KeyedStream:
    up = _require_keyed(step_id, up)
    fq = up.flow.register(step_id, "flat_map_value", (up.step_id,))
    out = up.df.select(F.col(up.key_col), F.explode(_col(mapper)).alias(alias))
    return KeyedStream(up.flow, fq, out, up.key_col)


def flatten(step_id: str, up: Stream, column: Column | str, alias: str = "item") -> Stream:
    """Stream of iterables → stream of items (``explode``)."""
    fq = up.flow.register(step_id, "flatten", (up.step_id,))
    return _keep_keyed(up, fq, up.df.select(F.explode(_col(column)).alias(alias)))


@dataclass(frozen=True)
class BranchOut:
    """Result of :func:`branch` (reference ``BranchOut``,
    operators/__init__.py:103-176)."""

    trues: Stream
    falses: Stream


def branch(step_id: str, up: Stream, predicate: Column | str) -> BranchOut:
    """Split a stream by predicate into (trues, falses).

    Both branches extend the same upstream lineage; Catalyst reuses the
    shared scan (exchange/subplan reuse) rather than double-reading.
    """
    fq = up.flow.register(step_id, "branch", (up.step_id,))
    p = _col(predicate)
    trues = _keep_keyed(up, f"{fq}.trues", up.df.filter(p))
    falses = _keep_keyed(up, f"{fq}.falses", up.df.filter(~p | p.isNull()))
    return BranchOut(trues=trues, falses=falses)


def merge(step_id: str, *ups: Stream) -> Stream:
    """Union N streams (UNION ALL — no dedup, like Timely concatenate).

    Uses ``unionByName(allowMissingColumns=True)`` so heterogeneous
    sides null-fill, mirroring the reference's untyped merge."""
    if len(ups) < 1:
        raise ValueError("merge requires at least one upstream")
    flow = ups[0].flow
    fq = flow.register(step_id, "merge", tuple(u.step_id for u in ups))
    df = ups[0].df
    for other in ups[1:]:
        df = df.unionByName(other.df, allowMissingColumns=True)
    if all(isinstance(u, KeyedStream) for u in ups):
        key = ups[0].key_col  # type: ignore[attr-defined]
        if all(u.key_col == key for u in ups) and key in df.columns:  # type: ignore[attr-defined]
            return KeyedStream(flow, fq, df, key)
    return Stream(flow, fq, df)


def redistribute(step_id: str, up: Stream, num_partitions: int | None = None) -> Stream:
    """Round-robin rebalance (reference ``exchange(fastrand)``,
    src/operators.rs:345-361). Use after a skew-producing filter and
    before an expensive per-row stage; it IS a full shuffle."""
    fq = up.flow.register(step_id, "redistribute", (up.step_id,))
    df = up.df.repartition(num_partitions) if num_partitions else up.df.repartition(up.df.sparkSession.sparkContext.defaultParallelism)
    return _keep_keyed(up, fq, df)


def inspect(
    step_id: str,
    up: Stream,
    inspector: Callable[[str, pd.DataFrame], None] | None = None,
) -> Stream:
    """Side-effect observer; pass-through.

    The inspector is called once per Arrow batch on the executors with
    ``(step_id, pandas_batch)`` — batch-granular rather than the
    reference's per-item call (operators/__init__.py:2021-2069), which
    would serialize row-at-a-time. Default prints a sample.
    """
    fq = up.flow.register(step_id, "inspect", (up.step_id,))
    insp = inspector or (lambda sid, pdf: print(f"{sid}: {pdf.head(5).to_dict('records')}"))

    def tee(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        for pdf in batches:
            insp(fq, pdf)
            yield pdf

    return _keep_keyed(up, fq, up.df.mapInPandas(tee, schema=up.df.schema))


def inspect_debug(
    step_id: str,
    up: Stream,
    inspector: Callable[[str, pd.DataFrame, int, int], None] | None = None,
) -> Stream:
    """Observer with (step, batch, epoch, worker) — epoch ≙ Spark stage
    attempt (0 in batch), worker ≙ partition id."""
    fq = up.flow.register(step_id, "inspect_debug", (up.step_id,))

    def tee(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        worker = ctx.partitionId() if ctx else -1
        epoch = ctx.stageId() if ctx else 0
        for pdf in batches:
            if inspector is None:
                print(f"{fq} W{worker} E{epoch}: {pdf.head(5).to_dict('records')}")
            else:
                inspector(fq, pdf, epoch, worker)
            yield pdf

    return _keep_keyed(up, fq, up.df.mapInPandas(tee, schema=up.df.schema))


def observe(step_id: str, up: Stream, **metrics: Column) -> Stream:
    """Attach named step metrics, computed JVM-side with zero Python
    overhead (reference's per-step Prometheus counters,
    ``src/operators.rs:154-170`` ``item_inp_count``/``item_out_count``).

    Default metric: ``item_count``. Batch: read them after an action
    via ``flow.observations[fq].get``. Streaming: they arrive in every
    ``StreamingQueryProgress`` under ``observedMetrics[fq]`` (use
    :class:`bytewax_spark.operators.MetricsListener`).
    """
    fq = up.flow.register(step_id, "observe", (up.step_id,))
    if not metrics:
        metrics = {"item_count": F.count(F.lit(1))}
    cols = [c.alias(n) for n, c in metrics.items()]
    if up.df.isStreaming:
        df = up.df.observe(fq, *cols)
    else:
        from pyspark.sql import Observation

        obs = Observation()
        df = up.df.observe(obs, *cols)
        up.flow.observations[fq] = obs
    return _keep_keyed(up, fq, df)


class MetricsListener:
    """Collects streaming observed metrics per step into ``.latest``
    (step_id -> {metric: value}); register with
    ``spark.streams.addListener(MetricsListener())``."""

    def __new__(cls):
        from pyspark.sql.streaming import StreamingQueryListener

        class _L(StreamingQueryListener):
            def __init__(self) -> None:
                self.latest: dict[str, dict] = {}

            def onQueryStarted(self, event) -> None: ...

            def onQueryProgress(self, event) -> None:
                for name, row in (event.progress.observedMetrics or {}).items():
                    self.latest[name] = row.asDict()

            def onQueryIdle(self, event) -> None: ...

            def onQueryTerminated(self, event) -> None: ...

        return _L()


def raises(step_id: str, up: Stream) -> None:
    """Crash if any item flows in (test plumbing; reference
    operators/__init__.py:2767-2780). Queued as a sink."""
    fq = up.flow.register(step_id, "raises", (up.step_id,))

    class _RaisesSink:
        def write_batch(self, df: DataFrame) -> None:
            if df.limit(1).count() > 0:
                raise RuntimeError(f"step {fq!r} got an item")

    up.flow.sinks.append((fq, up, _RaisesSink()))


def key_on(
    step_id: str,
    up: Stream,
    key: Column | str,
    key_col: str = DEFAULT_KEY_COL,
    cast: str | None = None,
) -> KeyedStream:
    """Derive the routing key; downstream keyed ops hash-shuffle on it
    (≙ reference's key-routed exchange).

    The reference forces ``str`` keys (``src/operators.rs:390-405``) —
    an artifact of its Python-object router. We keep the key's natural
    type: hashing/sorting/joining on e.g. BIGINT is several times
    faster than on its string rendering, and at 100 TB the key column
    dominates every shuffle. Pass ``cast="string"`` to reproduce the
    reference's rule exactly.
    """
    fq = up.flow.register(step_id, "key_on", (up.step_id,))
    expr = _col(key)
    if cast is not None:
        expr = expr.cast(cast)
    df = up.df.withColumn(key_col, expr)
    return KeyedStream(up.flow, fq, df, key_col)


def key_rm(step_id: str, up: KeyedStream) -> Stream:
    up = _require_keyed(step_id, up)
    fq = up.flow.register(step_id, "key_rm", (up.step_id,))
    return Stream(up.flow, fq, up.df.drop(up.key_col))


class TTLCache:
    """Per-executor TTL cache for :func:`enrich_cached`
    (reference ``operators/__init__.py:1275-1311``)."""

    def __init__(self, getter: Callable[[Any], Any], ttl_sec: float) -> None:
        self.getter, self.ttl = getter, ttl_sec
        self._store: dict[Any, tuple[float, Any]] = {}

    def get(self, k: Any) -> Any:
        now = time.monotonic()
        hit = self._store.get(k)
        if hit is not None and now - hit[0] < self.ttl:
            return hit[1]
        v = self.getter(k)
        self._store[k] = (now, v)
        return v


def enrich_cached(
    step_id: str,
    up: Stream,
    getter: Callable[[Any], Any],
    key: str,
    out_col: str,
    out_type: str,
    ttl_sec: float = 60.0,
) -> Stream:
    """Lookup-join against an external service with a per-executor TTL
    cache. Prefer a broadcast join when the dim table can be
    snapshotted — this op is for genuinely remote/volatile lookups."""
    fq = up.flow.register(step_id, "enrich_cached", (up.step_id,))
    schema = f"{', '.join(f'{f.name} {f.dataType.simpleString()}' for f in up.df.schema.fields)}, {out_col} {out_type}"

    def run(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
        cache = TTLCache(getter, ttl_sec)  # one per task; module-level state would outlive tasks
        for pdf in batches:
            pdf = pdf.copy()
            # unique-first: one service/cache call per distinct key in
            # the batch, then a C-speed dict map over the rows
            vals = {k: cache.get(k) for k in pd.unique(pdf[key])}
            pdf[out_col] = pdf[key].map(vals)
            yield pdf

    return _keep_keyed(up, fq, up.df.mapInPandas(run, schema=schema))


# ---------------------------------------------------------------------------
# keyed EOF aggregations (reference §2.3) — batch: one hash shuffle with
# map-side partial agg; streaming: compiled by bytewax_spark.streaming
# ---------------------------------------------------------------------------

def fold_final(
    step_id: str,
    up: KeyedStream,
    aggs: Mapping[str, Column] | None = None,
    fold: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
    schema: Any | None = None,
) -> KeyedStream:
    """Per-key fold, emitting once at EOF.

    Columnar: ``aggs`` maps output name → aggregate Column (partial
    aggregation is automatic — the reference's ``pre_reducer``).
    Opaque: ``fold(pdf) -> pdf`` runs per key via ``applyInPandas``
    with ``schema`` (must include the key column).
    """
    up = _require_keyed(step_id, up)
    fq = up.flow.register(step_id, "fold_final", (up.step_id,))
    if aggs is not None:
        out = up.df.groupBy(up.key_col).agg(*[c.alias(n) for n, c in aggs.items()])
        return KeyedStream(up.flow, fq, out, up.key_col)
    if fold is None or schema is None:
        raise ValueError(f"step {step_id!r}: provide either aggs or (fold, schema)")
    out = up.df.groupBy(up.key_col).applyInPandas(lambda pdf: fold(pdf), schema=schema)
    return KeyedStream(up.flow, fq, out, up.key_col)


def reduce_final(step_id: str, up: KeyedStream, aggs: Mapping[str, Column]) -> KeyedStream:
    """Per-key reduce (first value seeds). Identical compile to
    :func:`fold_final` columnar path; Spark's partial/final hash
    aggregation supplies the reference's per-batch pre-reduce."""
    return fold_final(step_id, up, aggs=aggs)


def count_final(
    step_id: str, up: Stream, key: Column | str | None = None, key_col: str = DEFAULT_KEY_COL
) -> KeyedStream:
    """Count per (derived) key at EOF."""
    if key is not None:
        up = key_on(f"{step_id}.key", up, key, key_col=key_col)
    up = _require_keyed(step_id, up)
    fq = up.flow.register(step_id, "count_final", (up.step_id,))
    out = up.df.groupBy(up.key_col).agg(F.count(F.lit(1)).alias("count"))
    return KeyedStream(up.flow, fq, out, up.key_col)


def _extreme_final(step_id: str, op_name: str, up: KeyedStream, by: Column | str) -> KeyedStream:
    up = _require_keyed(step_id, up)
    fq = up.flow.register(step_id, op_name, (up.step_id,))
    value_cols = [c for c in up.df.columns if c != up.key_col]
    # argmax as lexicographic struct extreme: struct(by, values...) —
    # one aggregate buffer, deterministic tie-break by value columns
    pick = F.max if op_name == "max_final" else F.min
    row = pick(F.struct(_col(by).alias("_ord"), *[F.col(c) for c in value_cols])).alias("_row")
    out = up.df.groupBy(up.key_col).agg(row).select(
        up.key_col, *[F.col(f"_row.{c}") for c in value_cols]
    )
    return KeyedStream(up.flow, fq, out, up.key_col)


def max_final(step_id: str, up: KeyedStream, by: Column | str) -> KeyedStream:
    """Per-key row with max ``by`` (single shuffle, no per-key sort)."""
    return _extreme_final(step_id, "max_final", up, by)


def min_final(step_id: str, up: KeyedStream, by: Column | str) -> KeyedStream:
    return _extreme_final(step_id, "min_final", up, by)


def collect(
    step_id: str,
    up: KeyedStream,
    value: Column | str,
    into: str = "list",
    sort: bool = True,
    salt: int | None = None,
) -> KeyedStream:
    """Collect values per key into list/set/map at EOF.

    Batch semantics of the reference's ``collect`` (size/timeout
    batching degenerates to one batch per key at EOF). ``sort=True``
    makes output deterministic across partitionings — required for
    oracle comparison; at scale prefer ``sort=False`` when order is
    irrelevant. ``into='map'`` expects a struct{key,value} column.

    ``salt=N`` enables two-stage aggregation for skewed keys: collect
    is holistic (no map-side reduction — every value of a hot key
    lands on one reducer), so a key with 10^8 values OOMs a task. With
    salt, stage 1 collects per ``(key, hash(value) % N)`` sub-lists in
    parallel, stage 2 flattens N sub-lists per key — the hot key's
    rows spread over N reducers and the final task merges N arrays
    instead of 10^8 rows. Output is identical when ``sort=True``
    (order differs otherwise).
    """
    up = _require_keyed(step_id, up)
    fq = up.flow.register(step_id, "collect", (up.step_id,))
    v = _col(value)
    if into not in ("list", "set", "map"):
        raise ValueError(f"into must be list|set|map, got {into!r}")
    if salt is not None and salt > 1:
        salted = up.df.withColumn("_salt", F.pmod(F.hash(v), F.lit(salt)))
        sub = salted.groupBy(up.key_col, "_salt").agg(F.collect_list(v).alias("_part"))
        merged = sub.groupBy(up.key_col).agg(F.flatten(F.collect_list("_part")).alias("_vals"))
        arr = F.col("_vals")
        if into == "list":
            agg = F.array_sort(arr) if sort else arr
        elif into == "set":
            agg = F.array_sort(F.array_distinct(arr))
        else:
            agg = F.map_from_entries(F.array_sort(arr))
        out = merged.select(up.key_col, agg.alias("values"))
        return KeyedStream(up.flow, fq, out, up.key_col)
    if into == "list":
        agg = F.collect_list(v)
        agg = F.array_sort(agg) if sort else agg
    elif into == "set":
        agg = F.array_sort(F.collect_set(v))
    else:
        agg = F.map_from_entries(F.array_sort(F.collect_list(v)))
    out = up.df.groupBy(up.key_col).agg(agg.alias("values"))
    return KeyedStream(up.flow, fq, out, up.key_col)


# ---------------------------------------------------------------------------
# ordered per-key running state (reference stateful_map / stateful_flat_map)
# ---------------------------------------------------------------------------

def stateful_map(
    step_id: str,
    up: KeyedStream,
    order_by: Column | str,
    running: Mapping[str, Column] | None = None,
    mapper: Callable[[Any, pd.DataFrame], pd.DataFrame] | None = None,
    schema: Any | None = None,
) -> KeyedStream:
    """1→1 transform with persistent per-key state.

    The reference's per-worker arrival order becomes an explicit
    ``order_by`` column (batch needs a deterministic order).

    Columnar: ``running`` maps output name → aggregate Column, applied
    over the cumulative frame ``(partitionBy key ORDER BY order_by ROWS
    UNBOUNDED PRECEDING..CURRENT)`` — running sums/counts/avgs without
    Python. Opaque: ``mapper(key, pdf_sorted) -> pdf`` via
    ``applyInPandas`` (state = loop carry inside the mapper).
    """
    from pyspark.sql import Window as W

    up = _require_keyed(step_id, up)
    fq = up.flow.register(step_id, "stateful_map", (up.step_id,))
    if running is not None:
        w = (
            W.partitionBy(up.key_col)
            .orderBy(_col(order_by))
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        df = up.df
        for name, agg in running.items():
            df = df.withColumn(name, agg.over(w))
        return KeyedStream(up.flow, fq, df, up.key_col)
    if mapper is None or schema is None:
        raise ValueError(f"step {step_id!r}: provide running aggs or (mapper, schema)")
    order_name = order_by if isinstance(order_by, str) else None

    def per_key(key: Any, pdf: pd.DataFrame) -> pd.DataFrame:
        if order_name:
            pdf = pdf.sort_values(order_name)
        return mapper(key[0] if isinstance(key, tuple) else key, pdf)

    out = up.df.groupBy(up.key_col).applyInPandas(per_key, schema=schema)
    return KeyedStream(up.flow, fq, out, up.key_col)


def stateful_flat_map(
    step_id: str,
    up: KeyedStream,
    order_by: Column | str,
    mapper: Callable[[Any, pd.DataFrame], pd.DataFrame],
    schema: Any,
) -> KeyedStream:
    """1→many with per-key state; same compile as the opaque
    :func:`stateful_map` path (output row count is free)."""
    return stateful_map(step_id, up, order_by, mapper=mapper, schema=schema)


# ---------------------------------------------------------------------------
# join (reference §2.5 — N-way keyed zip-join with insert/emit modes)
# ---------------------------------------------------------------------------

class JoinMode:
    """insert_mode ∈ {first,last,product}; emit_mode ∈ {complete,final,running}."""

    INSERT = ("first", "last", "product")
    EMIT = ("complete", "final", "running")


def _dedup_side(df: DataFrame, key_col: str, order_by: str | None, mode: str) -> DataFrame:
    """Reduce a side to one row per key for first/last insert modes —
    a lexicographic struct extreme: one shuffle, no per-key sort.

    The order column is consumed (dropped from the output), so every
    side may carry the same-named arrival-order column without
    colliding downstream.
    """
    if mode in ("product", "unique"):
        return df.drop(order_by) if order_by and order_by in df.columns else df
    if order_by is None:
        raise ValueError("insert_mode first/last requires order_by to define arrival order in batch")
    value_cols = [c for c in df.columns if c not in (key_col, order_by)]
    # lexicographic min/max over struct(order, values...) — one buffer
    # instead of max_by's two, and a deterministic value tie-break
    pick = F.min if mode == "first" else F.max
    row = pick(F.struct(F.col(order_by).alias("_ord"), *[F.col(c) for c in value_cols])).alias("_row")
    return df.groupBy(key_col).agg(row).select(key_col, *[F.col(f"_row.{c}") for c in value_cols])


def join(
    step_id: str,
    *sides: KeyedStream,
    insert_mode: str = "last",
    emit_mode: str = "complete",
    order_by: str | None = None,
    unique_sides: Sequence[int] = (),
) -> KeyedStream:
    """N-way keyed join (reference operators/__init__.py:2324-2372).

    Batch semantics per SURVEY §2.5: ``complete`` ≙ inner join of the
    per-key first/last value of each side; ``final`` ≙ full-outer join
    (missing sides NULL); ``product`` ≙ true relational join of all
    rows. ``running`` (emit per update) is streaming-only here — use
    :func:`running_join` for the batch window-function emulation.

    Non-key column names must be disjoint across sides (alias upstream).
    Catalyst picks the physical join; pre-wrap a known-small side with
    ``F.broadcast`` before ``key_on`` to force a broadcast join.

    ``unique_sides`` lists side indices the caller guarantees are
    already one-row-per-key (e.g. keyed on their own primary key):
    those sides skip the per-key extreme aggregation entirely — at
    scale that deletes a full shuffle+agg of the largest input.
    """
    if insert_mode not in JoinMode.INSERT or emit_mode not in JoinMode.EMIT:
        raise ValueError(f"bad join mode insert={insert_mode!r} emit={emit_mode!r}")
    if len(sides) < 2:
        raise ValueError("join requires >= 2 sides")
    if emit_mode == "running":
        raise ValueError("emit_mode='running' in batch: use op.running_join (window-function emulation)")
    sides = tuple(_require_keyed(step_id, s) for s in sides)
    key = sides[0].key_col
    if any(s.key_col != key for s in sides):
        raise ValueError("all join sides must share the same key column name")
    flow = sides[0].flow
    fq = flow.register(step_id, "join", tuple(s.step_id for s in sides))

    how = "inner" if emit_mode == "complete" else "full_outer"
    dedup = insert_mode if insert_mode in ("first", "last") else "product"

    def _mode(i: int) -> str:
        return "unique" if i in unique_sides else dedup

    out = _dedup_side(sides[0].df, key, order_by, _mode(0))
    for i, s in enumerate(sides[1:], start=1):
        out = out.join(_dedup_side(s.df, key, order_by, _mode(i)), on=key, how=how)
    return KeyedStream(flow, fq, out, key)


def asof_join(
    step_id: str,
    left: KeyedStream,
    right: KeyedStream,
    ts_col: str,
    tolerance: Column | None = None,
) -> KeyedStream:
    """Per-key as-of (backward) join: each left row is matched with the
    latest right row whose ``ts_col`` <= the left row's. Beyond the
    reference (its closest shape is ``join_window``, which buckets both
    sides — SURVEY §2.7 lists as-of joins as absent).

    Spark-first compile: tag + UNION ALL both sides, then
    ``last(value, ignorenulls)`` over ``(partitionBy key ORDER BY ts,
    tag)`` and keep the left rows — ONE shuffle and a per-key sort, no
    range-condition nested-loop join (the naive non-equi join is a
    cross product per key and dies at scale). Right rows sort before
    left rows at equal ``ts`` so exact-timestamp matches are included
    (DuckDB/pandas ``merge_asof`` backward semantics).

    ``tolerance``: an INTERVAL column (e.g. ``F.expr("INTERVAL 5
    MINUTES")``); matches staler than it are nulled out.

    Left and right value column names must be disjoint (alias
    upstream). Returns left rows + right value columns.
    """
    from pyspark.sql import Window as W

    left = _require_keyed(step_id, left)
    right = _require_keyed(step_id, right)
    key = left.key_col
    if right.key_col != key:
        raise ValueError("asof_join sides must share the key column name")
    flow = left.flow
    fq = flow.register(step_id, "asof_join", (left.step_id, right.step_id))

    lcols = [c for c in left.df.columns if c not in (key, ts_col)]
    rcols = [c for c in right.df.columns if c not in (key, ts_col)]
    overlap = set(lcols) & set(rcols)
    if overlap:
        raise ValueError(f"asof_join value columns overlap: {sorted(overlap)}")

    lt = left.df.select(key, ts_col, *lcols).withColumn("_side", F.lit(1))
    rt = right.df.select(key, ts_col, *rcols).withColumn("_side", F.lit(0))
    u = lt.unionByName(rt, allowMissingColumns=True)

    w = (
        W.partitionBy(key)
        .orderBy(F.col(ts_col).asc(), F.col("_side").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = u.select(
        key,
        ts_col,
        "_side",
        *lcols,
        *[F.last(F.col(c), ignorenulls=True).over(w).alias(c) for c in rcols],
        F.last(F.when(F.col("_side") == 0, F.col(ts_col)), ignorenulls=True)
        .over(w)
        .alias("_rts"),
    )
    out = filled.filter(F.col("_side") == 1)
    if tolerance is not None:
        stale = F.col("_rts") < (F.col(ts_col) - tolerance)
        out = out.select(
            key, ts_col, *lcols,
            *[F.when(~stale, F.col(c)).alias(c) for c in rcols],
        )
    else:
        out = out.select(key, ts_col, *lcols, *rcols)
    return KeyedStream(flow, fq, out, key)


def interval_join(
    step_id: str,
    points: KeyedStream,
    intervals: KeyedStream,
    ts_col: str,
    start_col: str,
    end_col: str,
    bucket: "timedelta | None" = None,
) -> KeyedStream:
    """Per-key range join: each point row is matched with every
    interval row whose ``[start, end)`` contains its timestamp. Beyond
    the reference (SURVEY §2.7: no interval/range joins).

    Spark plans a plain ``ts >= start AND ts < end`` non-equi join as
    a per-key nested loop — a cross product on hot keys. With
    ``bucket``, intervals explode into the coarse time buckets they
    overlap and points carry their single bucket, so the join is pure
    equi ``(key, bucket)`` — hash-shuffled, AQE-skew-splittable — with
    the exact containment check as a post-filter. Pick ``bucket`` near
    the typical interval length: shorter → more interval duplication;
    longer → more false candidates filtered after the join.

    Column names across sides must be disjoint apart from the key.
    """
    points = _require_keyed(step_id, points)
    intervals = _require_keyed(step_id, intervals)
    key = points.key_col
    if intervals.key_col != key:
        raise ValueError("interval_join sides must share the key column name")
    flow = points.flow
    fq = flow.register(step_id, "interval_join", (points.step_id, intervals.step_id))

    overlap = (set(points.df.columns) & set(intervals.df.columns)) - {key}
    if overlap:
        raise ValueError(f"interval_join value columns overlap: {sorted(overlap)}")

    contained = (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col))
    if bucket is None:
        out = points.df.join(intervals.df, on=key).filter(contained)
        return KeyedStream(flow, fq, out, key)

    b_us = int(bucket.total_seconds() * 1_000_000)
    p_b = points.df.withColumn(
        "_b", F.floor(F.unix_micros(F.col(ts_col).cast("timestamp")) / b_us)
    )
    i_b = intervals.df.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(F.unix_micros(F.col(start_col).cast("timestamp")) / b_us),
                # end is exclusive: the bucket of (end - 1us) is the last
                F.floor((F.unix_micros(F.col(end_col).cast("timestamp")) - 1) / b_us),
            )
        ),
    )
    out = p_b.join(i_b, on=[key, "_b"]).filter(contained).drop("_b")
    return KeyedStream(flow, fq, out, key)


def running_join(
    step_id: str,
    *sides: KeyedStream,
    order_by: str,
) -> KeyedStream:
    """Batch emulation of ``emit_mode='running'``: one output row per
    input event carrying the latest value seen from every side at that
    point (missing → NULL).

    Compiles to UNION ALL + ``last_value(..., ignorenulls) OVER
    (PARTITION BY key ORDER BY order_by ROWS UNBOUNDED PRECEDING)`` —
    one shuffle + per-key sort, fully SQL-expressible (oracle-able).
    """
    from pyspark.sql import Window as W

    sides = tuple(_require_keyed(step_id, s) for s in sides)
    key = sides[0].key_col
    flow = sides[0].flow
    fq = flow.register(step_id, "running_join", tuple(s.step_id for s in sides))

    all_value_cols: list[str] = []
    labeled = []
    for s in sides:
        vcols = [c for c in s.df.columns if c not in (key, order_by)]
        all_value_cols.extend(vcols)
        labeled.append(s.df)
    if len(set(all_value_cols)) != len(all_value_cols):
        raise ValueError("running_join sides must have disjoint value column names")

    unioned = labeled[0]
    for df in labeled[1:]:
        unioned = unioned.unionByName(df, allowMissingColumns=True)
    w = W.partitionBy(key).orderBy(F.col(order_by)).rowsBetween(W.unboundedPreceding, W.currentRow)
    out = unioned.select(
        F.col(key),
        F.col(order_by),
        *[F.last(F.col(c), ignorenulls=True).over(w).alias(c) for c in all_value_cols],
    )
    return KeyedStream(flow, fq, out, key)
