"""Time-series regularization — gap-fill to a fixed grid with
forward-fill. The standard prep step before windowed feature
extraction or charting: real event streams have holes; models and
joins want one row per (key, bucket).

Pure DataFrame ops: per-key min/max bucket (one aggregation),
``sequence`` explodes the dense grid (bounded by the key's own time
span — no cross join against a global calendar), left join re-attaches
observations, and forward-fill is ``last(ignorenulls)`` over a per-key
ordered window. At 100 TB the window partitions by key — millions of
small partitions, never a global sort; grid rows are (key, ts) pairs.

Parity note: the reference has no time-series regularization surface;
this module is part of the beyond-reference layer (SURVEY.md §2.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "cumulative_distinct",
    "cusum_changepoint",
    "decayed_sum",
    "ewma",
    "gapfill_ffill",
    "gapfill_interpolate",
    "holt_linear",
    "seasonal_index",
    "ohlc_resample",
    "trailing_agg",
    "vwap",
]


def trailing_agg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col,
    span,
    out_col: str = "trailing",
    agg: str = "sum",
    decimals: int = 6,
) -> DataFrame:
    """Per-row trailing event-time aggregate: for every row, ``agg`` of
    the key's values in the window ``[ts - span, ts]`` (inclusive both
    ends, RANGE semantics — simultaneous events all count). The rolling
    feature shape: '7-day trailing spend per user', 'requests in the
    last hour per client'.

    ``span`` is a ``datetime.timedelta``. Implemented as a RANGE-frame
    window over ``unix_micros(ts)`` partitioned by key — per-key
    partitions (millions of small sorts, never a global one), and the
    range frame means Spark keeps a sliding buffer of just the span's
    rows per key. ``agg``: ``sum`` | ``count`` | ``min`` | ``max``
    (``sum`` rounds to ``decimals`` — trailing double sums are frame
    evaluations whose internal order differs across engines; min/max/
    count are exact)."""
    from datetime import timedelta

    if not isinstance(span, timedelta) or span <= timedelta(0):
        raise ValueError(f"span must be a positive timedelta, got {span!r}")
    val = F.col(val_col) if isinstance(val_col, str) else val_col
    span_us = int(span.total_seconds() * 1_000_000)
    base = df.withColumn("_us", F.unix_micros(F.col(ts_col).cast("timestamp")))
    w = (
        Window.partitionBy(key_col)
        .orderBy("_us")
        .rangeBetween(-span_us, 0)
    )
    aggs = {
        "sum": lambda: F.round(F.sum(val).over(w), decimals),
        "count": lambda: F.count(F.lit(1)).over(w),
        "min": lambda: F.min(val).over(w),
        "max": lambda: F.max(val).over(w),
    }
    if agg not in aggs:
        raise ValueError(f"agg must be one of {sorted(aggs)}, got {agg!r}")
    return base.withColumn(out_col, aggs[agg]()).drop("_us")


def gapfill_ffill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col,
    bucket: str = "hour",
    out_col: str = "value",
) -> DataFrame:
    """One row per (key, time bucket) from the key's first to last
    observation; missing buckets carry the last seen value forward.

    ``val_col`` is aggregated per bucket with ``sum`` and rounded to 4
    decimals BEFORE filling, so filled values are bit-stable across
    engines and partitionings. Buckets ahead of a key's first
    observation cannot exist (the grid starts at the key's min), so
    the fill never fabricates leading values."""
    val = F.col(val_col) if isinstance(val_col, str) else val_col
    per_bucket = (
        df.select(
            F.col(key_col), F.date_trunc(bucket, F.col(ts_col)).alias("_h"), val.alias("_v")
        )
        .groupBy(key_col, "_h")
        .agg(F.round(F.sum("_v"), 4).alias("_v"))
    )
    grid = (
        per_bucket.groupBy(key_col)
        .agg(F.min("_h").alias("_lo"), F.max("_h").alias("_hi"))
        .select(
            key_col,
            F.explode(
                F.sequence(F.col("_lo"), F.col("_hi"), F.expr(f"interval 1 {bucket}"))
            ).alias("_h"),
        )
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("_h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(per_bucket, [key_col, "_h"], "left")
        .select(
            key_col,
            F.col("_h").alias(bucket),
            F.last("_v", ignorenulls=True).over(w).alias(out_col),
        )
    )


def decayed_sum(
    df: DataFrame,
    group_cols,
    ts_col: str,
    val_col: str,
    anchor,
    half_life,
    out_col: str = "decayed_micro",
) -> DataFrame:
    """Recency-weighted sum per group: each row contributes
    ``value · 2^-(age in half-lives)``, the standard exponential-decay
    score for "what's hot now" rankings (trending domains, decayed user
    affinity). Returns group cols + ``out_col``.

    INTEGER-EXACT by construction: the per-row term is
    ``round(value·10⁶)  >>  floor(age / half_life)`` — an int64 bit
    shift — so the group sum is a sum of integers, associative and
    bit-identical under ANY aggregation order, partitioning, or engine
    (float exponential decay is none of those). The price is decay
    quantized to whole half-lives (a step function, not a smooth
    curve) and a 10⁻⁶ value quantum; ages clamp to [0, 62] half-lives
    (rows older than 62 half-lives contribute 0, future rows count
    full). One groupBy with map-side partial sums — the cheapest
    aggregate shape there is.

    ``anchor``: the "now" timestamp (ISO string or datetime) — an
    explicit plan literal, not a data-dependent max, so the operator
    stays a single map-side expression + one aggregation.
    ``half_life``: ``datetime.timedelta``."""
    from datetime import timedelta

    if not isinstance(half_life, timedelta) or half_life <= timedelta(0):
        raise ValueError(f"half_life must be a positive timedelta, got {half_life!r}")
    hl_us = int(half_life.total_seconds() * 1_000_000)
    anchor_lit = F.lit(anchor).cast("timestamp")
    age = F.floor(
        (F.unix_micros(anchor_lit) - F.unix_micros(F.col(ts_col).cast("timestamp")))
        / F.lit(hl_us)
    ).cast("int")
    shift = F.least(F.greatest(age, F.lit(0)), F.lit(62))
    micro = F.round(F.col(val_col) * 1_000_000).cast("long")
    group_cols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    staged = df.withColumn("_micro", micro).withColumn("_shift", shift)
    term = F.expr("shiftright(_micro, _shift)")
    return staged.groupBy(*group_cols).agg(F.sum(term).alias(out_col))


def ohlc_resample(
    df: DataFrame,
    ts_col: str,
    val_col: str,
    interval: str = "1 hour",
    key_cols: list[str] | None = None,
    tie_col: str | None = None,
) -> DataFrame:
    """Downsample an irregular value stream to OHLC bars — one row per
    (keys, bucket) with ``open/high/low/close`` plus ``n_obs`` and a
    DECIMAL-exact ``sum_val``: the classic tick→candle resample, and
    the general "first/last/extremes per bucket" downsampler for any
    numeric telemetry.

    open/close are the values at the earliest/latest timestamp in the
    bucket, tie-broken by ``tie_col`` (a unique id) so the result is
    deterministic under any partitioning — both compile to ONE
    ``min(struct(ts, tie, val))`` / ``max(...)`` aggregation buffer,
    which (unlike a first_value window) combines map-side: at 100 TB
    each bar shuffles one partially-folded struct per map partition,
    never the ticks. ``sum_val`` accumulates in DECIMAL(18,6) — float
    summation drifts with partition order; decimal is engine- and
    order-exact (rounded to 2 at the end).
    """
    keys = list(key_cols or [])
    bucket = F.date_trunc(
        {"1 hour": "hour", "1 day": "day", "1 minute": "minute"}.get(
            interval, interval
        ),
        F.col(ts_col),
    ).alias("bucket")
    tie = F.col(tie_col) if tie_col else F.lit(0)
    v = F.col(val_col)
    edge = F.struct(
        F.col(ts_col).alias("t"), tie.alias("k"), v.alias("v")
    )
    return (
        df.groupBy(*keys, bucket)
        .agg(
            F.min(edge)["v"].alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max(edge)["v"].alias("close"),
            F.count(F.lit(1)).alias("n_obs"),
            F.round(F.sum(v.cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("sum_val"),
        )
    )


def cumulative_distinct(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    bucket: str = "day",
) -> DataFrame:
    """Running distinct-entity count per time bucket — "total unique
    users to date" — WITHOUT a running COUNT(DISTINCT) (which no
    engine supports over a window and which would hold every id in
    window state): an entity contributes exactly once, at its
    first-seen bucket, so the cumulative distinct count is the prefix
    sum of first-seen counts. Returns
    ``(bucket_ts, new_entities, cum_entities)``.

    Scale: one groupBy on the entity id (min-combine, the only
    full-data shuffle), one count per bucket, and the prefix sum runs
    over the BUCKET table — bounded by the calendar, not the data.
    Exactly the two-phase shape of packing.prefix_sum, but the bucket
    count is small enough for a plain window."""
    from pyspark.sql import Window

    first = df.groupBy(id_col).agg(
        F.date_trunc(bucket, F.min(F.col(ts_col))).alias("bucket_ts")
    )
    daily = first.groupBy("bucket_ts").agg(
        F.count(F.lit(1)).alias("new_entities")
    )
    w = Window.orderBy("bucket_ts").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "bucket_ts",
        "new_entities",
        F.sum("new_entities").over(w).alias("cum_entities"),
    )


def vwap(
    df: DataFrame,
    group_cols,
    price_col: str,
    qty_col: str,
) -> DataFrame:
    """Volume-weighted average price per group — the fill-quality /
    fair-value benchmark line: ``Σ(price·qty) / Σ(qty)`` in integer
    micro-units. The price is floor-quantized to int64 micros PER ROW
    and the weighted sum accumulates in DECIMAL(38,0), so the result
    is order- and engine-exact (float Σpq is not). Returns group cols
    + ``(volume, vwap_micro)``; pair a ``date_trunc`` bucket in
    ``group_cols`` for the per-bar series. One map-side-combined
    aggregation."""
    g = list(group_cols)
    p_micro = F.floor(F.col(price_col) * F.lit(1_000_000)).cast("decimal(38,0)")
    q = F.col(qty_col).cast("long")
    return (
        df.groupBy(*g)
        .agg(
            F.sum(p_micro * q).alias("_pq"),
            F.sum(q).alias("volume"),
        )
        .select(
            *g,
            "volume",
            F.expr("CAST(_pq div volume AS LONG)").alias("vwap_micro"),
        )
    )


def cusum_changepoint(
    df: DataFrame,
    group_cols,
    val_col: str,
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Per-group CUSUM changepoint locator (Page 1954): the time at
    which the cumulative deviation from the group mean peaks — where
    the level shift happened, if any. ``val_col`` must be int64
    (quantize floats to micros upstream). To stay integer-exact the
    mean is never divided out: the deviation at step k is
    ``n·prefix_k − k·S`` (DECIMAL(38,0)), which is ``n ×`` the classic
    CUSUM; the reported ``cusum_max_micro = max|n·prefix_k − k·S|
    div n`` is the classic statistic floor-divided once at the end.
    Returns one row per group: ``(n, cusum_max_micro, at_ts)`` with
    the earliest peak winning ties.

    One per-group window (prefix sum + row number over the SAME
    (ts, tiebreak) order — one sort per group, never global) and one
    max-by aggregation."""
    from pyspark.sql import Window

    g = list(group_cols)
    w = Window.partitionBy(*g).orderBy(F.col(ts_col), F.col(tiebreak_col))
    wg = Window.partitionBy(*g)
    rows = df.select(
        *g,
        F.col(ts_col).alias("_ts"),
        F.col(tiebreak_col).alias("_tb"),
        F.sum(F.col(val_col).cast("decimal(38,0)")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_pfx"),
        F.row_number().over(w).cast("long").alias("_k"),
        F.sum(F.col(val_col).cast("decimal(38,0)")).over(wg).alias("_s"),
        F.count(F.lit(1)).over(wg).cast("long").alias("_n"),
    )
    dev = rows.select(
        *g,
        "_ts",
        "_tb",
        "_n",
        F.abs(F.col("_n") * F.col("_pfx") - F.col("_k") * F.col("_s")).alias(
            "_dev"
        ),
    )
    pick = Window.partitionBy(*g).orderBy(
        F.col("_dev").desc(), F.col("_ts"), F.col("_tb")
    )
    return (
        dev.withColumn("_r", F.row_number().over(pick))
        .filter(F.col("_r") == 1)
        .select(
            *g,
            F.col("_n").alias("n"),
            F.expr("CAST(_dev div _n AS LONG)").alias("cusum_max_micro"),
            F.col("_ts").alias("at_ts"),
        )
    )


def ewma(
    df: DataFrame,
    group_cols,
    val_col: str,
    ts_col: str,
    tiebreak_col: str,
    num: int = 1,
    den: int = 8,
) -> DataFrame:
    """Per-group exponentially-weighted moving average, integer-exact:
    the recurrence ``e_k = (num·x_k + (den−num)·e_{k−1}) div den``
    (seeded with the first value) over the total ``(ts, tiebreak)``
    order, on int64 micro inputs — ``num/den = 1/8`` is the classic
    bit-shift smoother. Because the integer division happens INSIDE
    each step, the result is not a closed-form weighted sum; it is
    replayed exactly by the streaming twin
    (:func:`bytewax_spark.streaming.ewma_stream`) and by a recursive
    SQL oracle. Returns ``(group cols, n, ewma_micro)`` — the smoothed
    level per key at end of input.

    One collect_list aggregation per group + an array_sort + one
    ``aggregate`` fold — arrays are bounded by rows-per-key (the
    per-entity history), never by table size; the fold runs JVM-side
    in whole-stage codegen, no UDF."""
    if not (0 < num < den):
        raise ValueError(f"need 0 < num < den, got {num}/{den}")
    g = list(group_cols)
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(ts_col).alias("t"),
                F.col(tiebreak_col).alias("b"),
                F.col(val_col).cast("long").alias("x"),
            )
        )
    )
    agged = df.groupBy(*g).agg(arr.alias("_a"))
    fold = F.expr(
        "aggregate(slice(_a, 2, size(_a) - 1), _a[0].x, "
        f"(acc, s) -> (CAST({num} AS BIGINT) * s.x + {den - num} * acc)"
        f" div {den})"
    )
    return agged.select(
        *g,
        F.size("_a").cast("long").alias("n"),
        fold.cast("long").alias("ewma_micro"),
    )


def holt_linear(
    df: DataFrame,
    group_cols,
    val_col: str,
    ts_col: str,
    tiebreak_col: str,
    alpha=(1, 4),
    beta=(1, 4),
) -> DataFrame:
    """Per-group Holt double exponential smoothing (level + linear
    trend, Holt 1957), integer-exact on int64 micros: seeded
    ``l₁ = x₁, b₁ = 0``, then per step (all ``div`` truncating)::

        l' = (aₙ·x + (a_d−aₙ)·(l + b)) div a_d
        b' = (bₙ·(l' − l) + (b_d−bₙ)·b) div b_d

    Returns ``(group cols, n, level_micro, trend_micro)`` — the
    smoothed level and per-step trend at end of input (one-step
    forecast = level + trend). Like :func:`ewma`, the division inside
    each step means no closed form: the oracle replays the recurrence
    with a recursive CTE, step-wise identical. One collect_list +
    array_sort + one JVM-side ``aggregate`` fold per group; arrays
    bounded by per-entity history."""
    an, ad = alpha
    bn, bd = beta
    if not (0 < an < ad and 0 < bn < bd):
        raise ValueError(f"need 0 < num < den for alpha/beta, got {alpha}, {beta}")
    g = list(group_cols)
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(ts_col).alias("t"),
                F.col(tiebreak_col).alias("b"),
                F.col(val_col).cast("long").alias("x"),
            )
        )
    )
    agged = df.groupBy(*g).agg(arr.alias("_a"))
    # l' appears inside b''s update too — the expression is repeated
    # verbatim (deterministic), since SQL lambdas have no local binding
    new_l = (
        f"(CAST({an} AS BIGINT) * s.x + {ad - an} * (acc.l + acc.b)) div {ad}"
    )
    fold = F.expr(
        "aggregate(slice(_a, 2, size(_a) - 1), "
        "named_struct('l', _a[0].x, 'b', CAST(0 AS BIGINT)), "
        f"(acc, s) -> named_struct("
        f"'l', {new_l}, "
        f"'b', (CAST({bn} AS BIGINT) * (({new_l}) - acc.l)"
        f" + {bd - bn} * acc.b) div {bd}))"
    )
    return agged.select(
        *g,
        F.size("_a").cast("long").alias("n"),
        fold["l"].cast("long").alias("level_micro"),
        fold["b"].cast("long").alias("trend_micro"),
    )


def seasonal_index(
    df: DataFrame,
    group_cols,
    slot_col,
    val_col: str,
) -> DataFrame:
    """Multiplicative seasonal index per (group, season slot): the
    slot's mean value relative to the group's overall mean, in exact
    ppm — ``index = (slot_sum · n_group · 10⁶) div (group_sum ·
    n_slot)`` with DECIMAL(38,0) cross-products (no float division,
    no per-slot mean rounding). 1e6 = an average slot; 2e6 = this
    hour/weekday runs double. The classic profile behind seasonal-
    naive forecasts and the :func:`decayed_sum`/outlier detrenders.

    ``slot_col`` is a column or name (e.g. ``hour(ts)``). One
    map-side-combined (group, slot) aggregation; group totals
    re-aggregate the slot table. Returns group cols +
    ``(slot, n, index_ppm)``."""
    g = list(group_cols)
    slot = F.col(slot_col) if isinstance(slot_col, str) else slot_col
    v = F.col(val_col).cast("decimal(38,0)")
    slots = df.groupBy(*g, slot.alias("slot")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(v).alias("_s")
    )
    totals = slots.groupBy(*g).agg(
        F.sum("n").alias("_ng"), F.sum("_s").alias("_sg")
    )
    # totals are one row per group — broadcast, so the slot table keeps
    # its (group, slot) partitioning instead of re-shuffling on group
    return (
        slots.join(F.broadcast(totals), g)
        .select(
            *g,
            "slot",
            "n",
            F.expr(
                "CAST((_s * _ng * 1000000) div (_sg * n) AS LONG)"
            ).alias("index_ppm"),
        )
    )


def gapfill_interpolate(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col,
    bucket: str = "hour",
    out_col: str = "value_micro",
) -> DataFrame:
    """Gap fill by LINEAR interpolation, integer-exact: one row per
    (key, bucket) from the key's first to last observation; a missing
    bucket reads ``v_prev + ((v_next − v_prev)·gap_before) div span``
    on int64 micro values and bucket indices — the straight line
    between its observed neighbors, floor-divided once (ffill keeps a
    level; interpolation draws the trend — pick per column semantics).
    Observed buckets keep their exact value. Returns ``(key, bucket
    ts, out_col, interpolated)``.

    Per-bucket values are floor-quantized to micros BEFORE filling
    (sum per bucket), so results are engine/partitioning exact.

    Shape: every grid cell is fully determined by its BRACKETING
    observation pair, so the fill is generated straight from
    consecutive observations — one ``lead`` window over the OBSERVED
    buckets (sparse: |observations|, never the span) and one
    ``posexplode(sequence(...))`` that emits each cell with its
    bracket values in hand. The cell at offset 0 is the observation
    itself (exact value); offsets 1..span-1 read the straight line.
    The previous shape materialized the dense grid first and ran four
    running-fill window expressions over TWO full sorts of it
    (span-sized, ~10x the observation count on this workload) plus a
    grid join — all deleted; values are bit-identical because the
    interpolation arithmetic (int64 micros, DECIMAL(38,0) widening,
    one floor-div) is unchanged."""
    val = F.col(val_col) if isinstance(val_col, str) else val_col
    per_bucket = (
        df.select(
            F.col(key_col),
            F.date_trunc(bucket, F.col(ts_col)).alias("_h"),
            val.alias("_raw"),
        )
        .groupBy(key_col, "_h")
        .agg(F.floor(F.sum("_raw") * 1_000_000).cast("long").alias("_v"))
    )
    w = Window.partitionBy(key_col).orderBy("_h")
    brackets = per_bucket.select(
        key_col,
        "_h",
        "_v",
        F.lead("_h").over(w).alias("_nh"),
        F.lead("_v").over(w).alias("_nv"),
    )
    step = F.expr(f"interval 1 {bucket}")
    # cells [_h, _nh): the next observation's own cell is emitted by
    # ITS bracket row; the key's final observation (null _nh) emits
    # just itself. _span = bucket steps between the two observations
    # (sequence semantics, so any bucket width works).
    gap = F.sequence(F.col("_h"), F.coalesce(F.col("_nh") - step, F.col("_h")), step)
    cells = brackets.select(
        key_col,
        "_v",
        "_nv",
        F.size(gap).cast("long").alias("_span"),
        F.posexplode(gap).alias("_p", "_hc"),
    )
    interp = F.expr(
        "_v + ((CAST(_nv AS DECIMAL(38,0)) - _v) * _p) div _span"
    ).cast("long")
    return cells.select(
        F.col(key_col),
        F.col("_hc").alias(bucket),
        F.when(F.col("_p") == 0, F.col("_v")).otherwise(interp).alias(out_col),
        (F.col("_p") > 0).alias("interpolated"),
    )
