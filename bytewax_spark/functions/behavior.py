"""Behavioral / product analytics over event streams — ordered-step
funnels, cohort retention, and first-order event transitions. These are
the queries the reference's event-stream users write by hand with
``stateful_map`` + per-key folds (bytewax docs' "sessionization /
conversion" recipes); here each is a fixed DataFrame composition so
Catalyst sees the whole plan.

Scale posture (100 TB of events):
- ``funnel`` is K-1 self-co-partitioned joins on the user key, each
  filtered to one step's events BEFORE the shuffle, and each join's
  left side only carries users who reached the previous step — the
  frontier shrinks monotonically. No collect, no window over all
  events.
- ``cohort_retention`` is one per-user aggregation plus one
  co-partitioned join back (both sides hash-partitioned on the user
  key, so AQE plans a single exchange pair) and a final small groupBy.
- ``event_transitions`` is one per-user-partitioned window (millions
  of small sorts, never global) and a groupBy on the (src, dst) pair —
  output cardinality is |event_type|².

Parity note: the reference has no built-in funnel/cohort operators;
these compose over the same semantics its users build from
``stateful_map`` (reference pysrc/bytewax/operators/__init__.py:1040
stateful_map docs). Beyond-reference layer per SURVEY.md §2.7.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bytewax_spark.functions._materialize import materialize

__all__ = [
    "cohort_retention",
    "event_ngrams",
    "event_transitions",
    "funnel",
    "rfm_segments",
    "stickiness",
    "session_conversion",
    "session_paths",
    "sessionize",
]


def funnel(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: Sequence[str],
    within=None,
) -> DataFrame:
    """Ordered-step funnel: for each step i, count users whose FIRST
    qualifying step-i event occurs at-or-after their first qualifying
    step-(i-1) event. Returns one row per step:
    ``(step_idx, step, users)``.

    "Qualifying" is sequential, not independent: a user's step-2 time
    is the min ts of step-2 events at-or-after that user's step-1 time,
    so out-of-order conversions don't count (the standard funnel
    definition). Equal timestamps count as ordered (``>=``) — ties
    within one event-time tick are credited.

    ``within`` (a ``timedelta``, optional) bounds each HOP: step i
    only qualifies when it lands within ``within`` of the user's
    step-(i-1) time — the "converted within the hour" product
    question. The bound is per-hop, not whole-journey; it tightens the
    join condition without changing the plan shape.

    Implementation: aggregate first-step times per user (one shuffle on
    the user key), then for each later step an inner join of the
    surviving frontier against that step's events (pre-filtered map-
    side) followed by a min-aggregation — all shuffles share the user
    key, so the exchange is reused across the chain.
    """
    steps = list(steps)
    if len(steps) < 1:
        raise ValueError("funnel needs at least one step")
    u, t, ty = F.col(user_col), F.col(ts_col), F.col(type_col)

    # One frame per user carrying _t1.._tK (null = never reached), built
    # as a left-join chain so the whole funnel is a single plan tree:
    # each step's events are scanned once, the frontier is evaluated
    # once, and the per-step counts fall out of one final aggregation.
    per_user = (
        df.filter(ty == steps[0])
        .groupBy(user_col)
        .agg(F.min(t).alias("_t1"))
    )
    for i, step in enumerate(steps[1:], start=2):
        ev = df.filter(ty == step).select(u.alias(user_col), t.alias("_ts"))
        prev = f"_t{i - 1}"
        cond = (per_user[user_col] == ev[user_col]) & (
            F.col("_ts") >= F.col(prev)
        )
        if within is not None:
            secs = int(within.total_seconds())
            cond = cond & (
                F.col("_ts")
                <= F.col(prev) + F.expr(f"INTERVAL {secs} SECONDS")
            )
        per_user = (
            per_user.join(
                ev,
                on=cond,
                how="left",
            )
            .drop(ev[user_col])
            .groupBy(user_col)
            .agg(
                *[F.first(f"_t{j}").alias(f"_t{j}") for j in range(1, i)],
                F.min("_ts").alias(f"_t{i}"),
            )
        )
    totals = per_user.select(
        *[
            F.sum(F.col(f"_t{i}").isNotNull().cast("long")).alias(f"_c{i}")
            for i in range(1, len(steps) + 1)
        ]
    )
    stack_args = ", ".join(
        f"{i}, '{s}', _c{i}" for i, s in enumerate(steps, start=1)
    )
    return totals.select(
        F.expr(f"stack({len(steps)}, {stack_args}) AS (step_idx, step, users)")
    ).select(
        F.col("step_idx").cast("int").alias("step_idx"),
        "step",
        F.coalesce(F.col("users"), F.lit(0)).cast("long").alias("users"),
    )


def cohort_retention(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    bucket: str = "week",
    max_offset: int | None = None,
) -> DataFrame:
    """Cohort retention triangle: users grouped by the bucket of their
    first event (the cohort); for each (cohort, offset) cell, the
    number of distinct cohort members active ``offset`` buckets later.
    Returns ``(cohort, offset, users)``; offset 0 is the cohort size.

    ``bucket``: ``date_trunc`` unit (``week``/``day``/``month``).
    Offsets are computed on day arithmetic (7/1/31-day months use real
    truncated-calendar boundaries via ``months_between`` for month).
    ``max_offset`` optionally caps the triangle width (map-side
    filter)."""
    u, t = F.col(user_col), F.col(ts_col)
    firsts = df.groupBy(user_col).agg(
        F.date_trunc(bucket, F.min(t)).alias("_cohort")
    )
    active = df.select(
        u.alias(user_col), F.date_trunc(bucket, t).alias("_b")
    ).distinct()
    joined = active.join(firsts, user_col)
    if bucket == "month":
        off = F.round(
            F.months_between(F.col("_b"), F.col("_cohort"))
        ).cast("int")
    else:
        days = F.datediff(F.col("_b"), F.col("_cohort"))
        per = {"week": 7, "day": 1}[bucket]
        off = (days / per).cast("int")
    out = joined.select(
        F.col("_cohort").alias("cohort"), off.alias("offset"), u.alias(user_col)
    )
    if max_offset is not None:
        out = out.filter(F.col("offset") <= max_offset)
    return out.groupBy("cohort", "offset").agg(
        F.count_distinct(F.col(user_col)).alias("users")
    )


def event_transitions(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """First-order transition counts: for each user's event sequence
    ordered by ``(ts, tiebreak)``, count consecutive ``(src, dst)``
    event-type pairs across all users. Returns
    ``(src, dst, transitions)`` — the Markov transition matrix in long
    form (row-normalize downstream for probabilities).

    ``tiebreak_col`` makes the per-user order total (event ids), so the
    result is deterministic under any partitioning. The window
    partitions by user — never a global sort."""
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(tiebreak_col))
    lagged = df.select(
        F.lag(F.col(type_col)).over(w).alias("src"),
        F.col(type_col).alias("dst"),
    ).filter(F.col("src").isNotNull())
    return lagged.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("transitions")
    )


def event_ngrams(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
    n: int = 3,
    min_count: int = 1,
) -> DataFrame:
    """Order-``n`` behavioral sequence mining: count length-``n``
    windows of consecutive event types within each user's
    ``(ts, tiebreak)``-ordered stream — the sequential-pattern
    generalization of :func:`event_transitions` (``n = 2`` reproduces
    it). Returns ``(step_1 .. step_n, occurrences)`` for patterns seen
    at least ``min_count`` times — the "what do users do before X"
    table that feeds next-action models and UX funnels.

    ``n − 1`` ``lead`` calls over ONE per-user window (a single sort
    per user partition, never global), then a map-side-combined
    groupBy on the pattern tuple. Patterns never cross users."""
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(tiebreak_col))
    steps = [F.col(type_col).alias("step_1")] + [
        F.lead(F.col(type_col), i).over(w).alias(f"step_{i + 1}")
        for i in range(1, n)
    ]
    grams = df.select(*steps).filter(F.col(f"step_{n}").isNotNull())
    out = grams.groupBy(*[f"step_{i + 1}" for i in range(n)]).agg(
        F.count(F.lit(1)).alias("occurrences")
    )
    if min_count > 1:
        out = out.filter(F.col("occurrences") >= min_count)
    return out


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    tiebreak_col: str,
    gap,
    session_col: str = "session_id",
) -> DataFrame:
    """Row-level session assignment: within each user's
    (ts, tiebreak)-ordered sequence, a new session starts whenever the
    gap since the previous event exceeds ``gap`` (a timedelta). Every
    input row comes back with ``session_col`` = the user's 1-based
    session ordinal — the join key that attaches events to sessions
    (the windowing module's SessionWindower aggregates per session;
    this operator labels the raw rows instead).

    One per-user window pass: lag to detect gap starts, then a running
    sum of starts — both over the same (ts, tiebreak) total order, so
    labels are deterministic under any partitioning. Equal timestamps
    tie-break into the same session."""
    from datetime import timedelta

    if not isinstance(gap, timedelta) or gap <= timedelta(0):
        raise ValueError(f"gap must be a positive timedelta, got {gap!r}")
    gap_us = int(gap.total_seconds() * 1_000_000)
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(tiebreak_col))
    prev_us = F.lag(F.unix_micros(F.col(ts_col).cast("timestamp"))).over(w)
    is_start = (
        prev_us.isNull()
        | ((F.unix_micros(F.col(ts_col).cast("timestamp")) - prev_us) > gap_us)
    ).cast("long")
    return df.withColumn(
        session_col,
        F.sum(is_start).over(
            Window.partitionBy(user_col)
            .orderBy(F.col(ts_col), F.col(tiebreak_col))
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )


def session_conversion(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
    gap,
    target: str,
) -> DataFrame:
    """Session-level conversion rate: sessionize every user's stream
    (gap rule, :func:`sessionize`), mark a session converted when it
    contains at least one ``target`` event, and report ONE row
    ``(n_sessions, converted_sessions, conv_ppm)`` — the KPI behind
    "what share of visits end in a purchase", computed on exact
    session boundaries rather than per-user or per-event rates.

    One per-user window pass (the sessionize labels), one
    (user, session) aggregation, one single-row rollup — every
    shuffle keyed by user, so AQE coalesces the chain; the ppm is
    integer div, engine-exact."""
    s = sessionize(df, user_col, ts_col, tiebreak_col, gap)
    per_session = s.groupBy(F.col(user_col), F.col("session_id")).agg(
        F.max((F.col(type_col) == target).cast("long")).alias("_conv")
    )
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("_conv").alias("converted_sessions"),
        F.expr("(sum(_conv) * 1000000L) div count(1)").alias("conv_ppm"),
    )


def rfm_segments(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    val_col: str,
    n_tiles: int = 5,
    as_of=None,
) -> DataFrame:
    """RFM segmentation — the classic customer-value quantizer: per
    user, Recency (days since last event, as of ``as_of`` or the data
    max), Frequency (event count), Monetary (value sum in int64
    micros), each scored into ``n_tiles`` equal-population tiles
    (5 = quintiles; recency tile 5 = most recent). Returns
    ``(user, recency_days, frequency, monetary_micro, r, f, m,
    segment)`` with ``segment`` = ``r·100 + f·10 + m`` (the "555 is
    your best customer" code).

    One per-user aggregation, then three EXACT ntile assignments over
    the USER table computed WITHOUT global single-partition window
    sorts (the classic ``ntile().over(Window.orderBy(...))`` moves the
    whole user table to one task — three times).  Instead each
    dimension reduces to per-distinct-value counts, ranks the value
    blocks with the two-phase :func:`~..packing.prefix_sum`, derives
    each block's tile from pure rank arithmetic, and only the tie
    blocks actually straddling a tile cut (at most ``n_tiles - 1`` per
    dimension) rank users within the block — see
    :func:`_scalable_ntile`.  Driver state is bounded: prefix-sum
    boundary literals plus <= ``n_tiles - 1`` crossed-block rows per
    dimension."""
    u, t = F.col(user_col), F.col(ts_col)
    per_user = df.groupBy(user_col).agg(
        F.max(t).alias("_last"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.floor(F.col(val_col) * 1_000_000).cast("long")).alias(
            "monetary_micro"
        ),
    )
    if as_of is not None:
        anchored = per_user.withColumn(
            "_anchor", F.lit(as_of).cast("timestamp")
        )
    else:
        amax = per_user.agg(F.max("_last").alias("_anchor"))
        anchored = per_user.crossJoin(F.broadcast(amax))
    scored = anchored.select(
        user_col,
        F.datediff(
            F.to_date(F.col("_anchor")), F.to_date(F.col("_last"))
        ).alias("recency_days"),
        "frequency",
        "monetary_micro",
    )
    scored = materialize(
        scored,
        "one row per user, counted here and read by the three tile passes",
    )
    total = scored.count()  # 1 driver long; also fills the checkpoint
    if total <= _CROSSED_BLOCK_WINDOW_MAX:
        # scale-adaptive: the ntile input is the PER-USER table, already
        # reduced by the aggregation above — when it fits the same
        # single-task sort bound the crossed-block path uses, three
        # plain ANSI ntile windows (identical tile assignment — the
        # distributed path reproduces exactly these, see
        # test_scalable_ntile_matches_spark_ntile_under_heavy_ties)
        # beat 3x the two-phase rank machinery and its joins outright.
        # Above the bound the distributed-exact path takes over.
        out = scored
        for key, desc, name in (
            ("recency_days", True, "r"),
            ("frequency", False, "f"),
            ("monetary_micro", False, "m"),
        ):
            w = Window.orderBy(
                F.col(key).desc() if desc else F.col(key).asc(),
                F.col(user_col).asc(),
            )
            out = out.withColumn(name, F.ntile(n_tiles).over(w).cast("long"))
    else:
        r_t = _scalable_ntile(
            scored, "recency_days", True, user_col, n_tiles, total, "r"
        )
        f_t = _scalable_ntile(
            scored, "frequency", False, user_col, n_tiles, total, "f"
        )
        m_t = _scalable_ntile(
            scored, "monetary_micro", False, user_col, n_tiles, total, "m"
        )
        out = (
            scored.join(r_t, user_col).join(f_t, user_col).join(m_t, user_col)
        )
    return out.withColumn(
        "segment", (F.col("r") * 100 + F.col("f") * 10 + F.col("m")).cast("int")
    )


def _ntile_of_rank(k, total: int, n: int):
    """ANSI ``NTILE(n)`` of 1-based rank ``k`` over ``total`` rows as a
    pure-arithmetic Column (no window): the first ``total % n`` tiles
    hold ``total div n + 1`` rows, the rest ``total div n`` — the same
    big-buckets-first rule Spark and DuckDB implement."""
    base, rem = divmod(total, n)
    if base == 0:
        return k.cast("long")
    cut = (base + 1) * rem
    return F.when(
        k <= F.lit(cut), F.floor((k - F.lit(1)) / F.lit(base + 1)) + 1
    ).otherwise(
        F.lit(rem) + F.floor((k - F.lit(1 + cut)) / F.lit(base)) + 1
    )


def _py_ntile_of_rank(k: int, total: int, n: int) -> int:
    """Driver twin of :func:`_ntile_of_rank` for boundary checks."""
    base, rem = divmod(total, n)
    if base == 0:
        return k
    cut = (base + 1) * rem
    if k <= cut:
        return (k - 1) // (base + 1) + 1
    return rem + (k - 1 - cut) // base + 1


# Largest tie block a plain partitionBy(value) window may sort in one
# task before rfm falls back to a per-block two-phase rank.
_CROSSED_BLOCK_WINDOW_MAX = 4_000_000


def _scalable_ntile(
    scored: DataFrame,
    key: str,
    descending: bool,
    user_col: str,
    n: int,
    total: int,
    out: str,
) -> DataFrame:
    """Exact ``NTILE(n) OVER (ORDER BY key [DESC], user ASC)`` as a
    ``(user, out)`` DataFrame, with no unpartitioned window.

    1. distinct-value counts (cardinality = |values| <= |users|);
    2. two-phase :func:`~..packing.prefix_sum` over the VALUE table
       gives each tie block its contiguous global rank span
       ``(_start, _end]``;
    3. blocks fully inside one tile (all but <= n-1 of them — a cut
       can split at most one block) take their tile from rank
       arithmetic alone, no per-user ordering at all;
    4. only straddled blocks rank users within the block: a
       ``partitionBy(value)`` window when every such block is small
       enough for one task, else a per-block two-phase rank on the
       unique ``user`` key (range-bucketed, skew-free).
    """
    from .packing import prefix_sum

    kc = F.col(key)
    vals = scored.groupBy(key).agg(F.count(F.lit(1)).alias("_cnt"))
    cum = prefix_sum(
        vals, [(key, "desc" if descending else "asc")], "_cnt", out_col="_end"
    )
    cum = cum.select(
        key,
        "_cnt",
        (F.col("_end") - F.col("_cnt")).alias("_start"),
        _ntile_of_rank(F.col("_end") - F.col("_cnt") + 1, total, n).alias(
            "_t0"
        ),
        _ntile_of_rank(F.col("_end"), total, n).alias("_t1"),
    )
    # <= n-1 rows ever cross a cut: bounded driver pull by construction
    crossed = cum.filter(F.col("_t0") != F.col("_t1")).collect()
    # NULL is a legitimate tie block (e.g. recency from a user with no
    # timestamped event): groupBy already made it one row of `cum`, so
    # every per-key construct below must be NULL-SAFE — a plain
    # equi-join/isin/create_map would silently drop (or raise on) the
    # null block and those users would vanish from the output.
    cum_k = cum.select(F.col(key).alias("_vkey"), "_t0", "_t1")
    blocks = scored.join(cum_k, kc.eqNullSafe(F.col("_vkey")))
    easy = blocks.filter(F.col("_t0") == F.col("_t1")).select(
        user_col, F.col("_t0").alias(out)
    )
    if not crossed:
        return easy

    def _match(k2) -> Column:
        return kc.isNull() if k2 is None else kc == F.lit(k2)

    starts = {r[key]: r["_start"] for r in crossed}
    crossed_keys = list(starts)
    crossed_pred = _match(crossed_keys[0])
    for k2 in crossed_keys[1:]:
        crossed_pred = crossed_pred | _match(k2)
    if max(r["_cnt"] for r in crossed) <= _CROSSED_BLOCK_WINDOW_MAX:
        w = Window.partitionBy(key).orderBy(F.col(user_col).asc())
        # when-chain instead of create_map: map literals forbid NULL
        # keys, and <= n-1 branches is trivially small
        start_expr = F.coalesce(
            *[F.when(_match(k2), F.lit(starts[k2])) for k2 in crossed_keys]
        )
        hard = (
            scored.filter(crossed_pred)
            .withColumn("_k", start_expr + F.row_number().over(w))
        )
    else:  # huge tie block: rank by the unique user key, range-bucketed
        parts = []
        for k2 in crossed_keys:
            sub = scored.filter(_match(k2))
            ranked = prefix_sum(sub, [user_col], F.lit(1), out_col="_rn")
            parts.append(
                ranked.withColumn("_k", F.lit(starts[k2]) + F.col("_rn"))
            )
        hard = parts[0]
        for p in parts[1:]:
            hard = hard.unionByName(p)
    hard = hard.select(
        user_col, _ntile_of_rank(F.col("_k"), total, n).alias(out)
    )
    return easy.unionByName(hard)


def session_paths(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
    gap,
    max_len: int = 10,
    min_count: int = 1,
) -> DataFrame:
    """Top navigation paths: sessionize (gap rule), concatenate each
    session's first ``max_len`` event types in ``(ts, tiebreak)``
    order into a ``>``-joined path string, count identical paths —
    "what do sessions actually look like", the whole-journey
    complement to :func:`event_ngrams`. Returns
    ``(path, n_steps, sessions)`` for paths seen ``min_count``+ times.

    One per-user window pass (session labels), one (user, session)
    collect_list + array_sort (bounded by session length, truncated
    at ``max_len``), one path count."""
    s = sessionize(df, user_col, ts_col, tiebreak_col, gap)
    per_session = s.groupBy(F.col(user_col), F.col("session_id")).agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col(ts_col).alias("t"),
                        F.col(tiebreak_col).alias("b"),
                        F.col(type_col).alias("e"),
                    )
                )
            ),
            1,
            max_len,
        ).alias("_seq")
    )
    paths = per_session.select(
        F.array_join(F.transform(F.col("_seq"), lambda x: x["e"]), ">").alias(
            "path"
        ),
        F.size("_seq").alias("n_steps"),
    )
    out = paths.groupBy("path", "n_steps").agg(
        F.count(F.lit(1)).alias("sessions")
    )
    if min_count > 1:
        out = out.filter(F.col("sessions") >= min_count)
    return out


def stickiness(
    df: DataFrame,
    user_col: str,
    ts_col: str,
) -> DataFrame:
    """DAU/MAU engagement stickiness per calendar month: the mean
    daily active count over the month's distinct actives, in exact
    ppm — 1e6/30 ≈ 33 333 means users show up once a month, 1e6 means
    every active user comes every day. Returns one row per month:
    ``(month, mau, stickiness_ppm)`` — the mean-DAU-over-MAU ratio —
    plus the raw day count.

    Two distinct aggregations ((day, user) then per-month rollups) —
    the (day, user) dedup is the only full shuffle."""
    day_user = df.select(
        F.date_trunc("month", F.col(ts_col)).alias("month"),
        F.date_trunc("day", F.col(ts_col)).alias("_day"),
        F.col(user_col).alias("_u"),
    ).distinct()
    dau = day_user.groupBy("month", "_day").agg(
        F.count(F.lit(1)).alias("_dau")
    )
    per_month_dau = dau.groupBy("month").agg(
        F.sum("_dau").alias("_dau_sum"), F.count(F.lit(1)).alias("n_days")
    )
    mau = day_user.select("month", "_u").distinct().groupBy("month").agg(
        F.count(F.lit(1)).alias("mau")
    )
    return per_month_dau.join(mau, "month").select(
        "month",
        "n_days",
        "mau",
        # mean DAU / MAU in ppm: (dau_sum * 1e6) div (n_days * mau)
        F.expr(
            "CAST((CAST(_dau_sum AS DECIMAL(38,0)) * 1000000)"
            " div (n_days * mau) AS LONG)"
        ).alias("stickiness_ppm"),
    )
