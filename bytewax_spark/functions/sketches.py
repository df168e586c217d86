"""Mergeable frequency sketches as fixed-size aggregation tables.

A count-min sketch is ``depth`` hash rows of ``width`` counters; its
update is a counter increment and its merge is element-wise addition —
exactly the shape of a Spark ``groupBy().count()`` with map-side
partial aggregation. Building one over 100 TB therefore shuffles at
most ``depth * width`` rows PER MAP PARTITION (the partial aggregate),
and the final sketch is ``depth * width`` rows total no matter how
many input rows or distinct keys there are. That bounded-output shape
is the whole point: the exact alternatives (``groupBy(key).count()``)
shuffle one row per distinct key, which for a 100 TB web corpus with
10^9 distinct keys is a real shuffle, while the sketch never moves
more than a few thousand counters.

Hashing is md5 digest splitting (one md5 yields four independent
32-bit row hashes — the same cheap hash family as
:func:`bytewax_spark.functions.dedup.bloom_build`), so a SQL oracle
can reproduce every counter bit-for-bit.

Estimates carry the classic one-sided guarantee: ``est >= true`` and
``est <= true + e*N`` with probability ``1 - (1/2)^depth`` for
``width = ceil(2/e)``. Size the width from the tolerated absolute
error, not from the key cardinality.

Parity note: the reference has no sketch operators (SURVEY.md §2.7);
this module is part of the beyond-reference LLM-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "bloom_build",
    "bloom_contains",
    "bloom_merge",
    "countmin_build",
    "countmin_estimate",
    "countmin_join_size",
    "countmin_merge",
    "countmin_positions",
    "hll_build",
    "hll_estimate",
    "hll_estimate_grouped",
    "hll_merge",
    "histogram_build",
    "histogram_quantile",
    "kmv_build",
    "kmv_estimate",
    "kmv_jaccard",
    "kmv_merge",
    "kmv_overlap_matrix",
    "moments_build",
    "moments_merge",
    "moments_quantiles",
    "moments_quantiles_grouped",
    "moments_scale_bits",
]


def _digest_positions(key: Column, width: int, n: int, salt: str) -> list[Column]:
    """``n`` positions in ``[0, width)`` for ``key`` by md5 digest
    splitting: each 128-bit digest provides four independent 32-bit
    chunks, so 4 positions cost ONE md5 evaluation per row. Digest 0
    hashes the bare key, digest ``d > 0`` the key salted with
    ``f"{salt}{d}:"``."""
    out: list[Column] = []
    for d in range((n + 3) // 4):
        prefix = F.lit(f"{salt}{d}:") if d else F.lit("")
        digest = F.md5(F.concat(prefix, key.cast("string")))
        for c in range(min(4, n - 4 * d)):
            chunk = F.conv(F.substring(digest, 1 + 8 * c, 8), 16, 10).cast("bigint")
            out.append(F.pmod(chunk, F.lit(width)))
    return out


def countmin_positions(key: Column, width: int, depth: int) -> list[Column]:
    """``depth`` bucket positions for ``key`` (:func:`_digest_positions`
    salted ``cm``): 4 rows of the sketch cost ONE md5 per input row."""
    return _digest_positions(key, width, depth, "cm")


def countmin_build(
    df: DataFrame,
    key_col: str | Column,
    width: int = 512,
    depth: int = 4,
    weight_col: str | Column | None = None,
) -> DataFrame:
    """Build a count-min sketch of ``key_col`` → ``(depth, bucket,
    cnt)``, one row per NON-EMPTY counter (absent counters are zero).

    One pass, one shuffle bounded by ``depth * width`` rows per map
    partition regardless of input size. ``weight_col`` switches from
    occurrence counting to weighted sums (e.g. bytes per key)."""
    if width <= 0 or depth <= 0:
        raise ValueError(f"width/depth must be positive, got {width}/{depth}")
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    pos = countmin_positions(key, width, depth)
    pairs = F.array(
        *[
            F.struct(F.lit(d).cast("int").alias("depth"), p.cast("int").alias("bucket"))
            for d, p in enumerate(pos)
        ]
    )
    w = (
        F.lit(1).cast("bigint")
        if weight_col is None
        else (F.col(weight_col) if isinstance(weight_col, str) else weight_col).cast(
            "bigint"
        )
    )
    return (
        df.select(F.explode(pairs).alias("pb"), w.alias("_w"))
        .groupBy(F.col("pb.depth").alias("depth"), F.col("pb.bucket").alias("bucket"))
        .agg(F.sum("_w").alias("cnt"))
    )


def countmin_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    key_col: str,
    width: int,
    depth: int,
) -> DataFrame:
    """Point-estimate each probe key against a built sketch →
    ``(key_col, est)`` with ``est = min over rows of the key's
    counter`` (the count-min estimator; ``est >= true`` always).

    The sketch is at most ``depth * width`` rows — broadcast it, so
    probing N keys is a map-side lookup with NO shuffle of the probe
    side. ``width``/``depth`` must match the build call (the hash
    positions are recomputed here)."""
    key = F.col(key_col)
    pos = countmin_positions(key, width, depth)
    pairs = F.array(
        *[
            F.struct(F.lit(d).cast("int").alias("depth"), p.cast("int").alias("bucket"))
            for d, p in enumerate(pos)
        ]
    )
    exploded = probes.select(key.alias(key_col), F.explode(pairs).alias("pb")).select(
        key_col, F.col("pb.depth").alias("depth"), F.col("pb.bucket").alias("bucket")
    )
    # a key hashing to an absent counter means that counter is 0 —
    # coalesce, never drop (the min over rows must see it)
    joined = exploded.join(F.broadcast(sketch), ["depth", "bucket"], "left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est")
    )


def hll_build(
    df: DataFrame,
    key_col: str | Column,
    p: int = 10,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Build HyperLogLog registers for the distinct count of
    ``key_col`` → ``(idx, maxrank)``, one row per NON-EMPTY register
    (at most ``m = 2**p`` rows).

    The register update is ``max`` — mergeable exactly like the
    count-min counters, so the build is one map-side-combined
    ``groupBy(idx).max()`` whose shuffle is bounded by ``m`` rows per
    map partition regardless of input size. Spark's own
    ``approx_count_distinct`` is the right call inside a single
    aggregation; this materialized-register form is for the pipelines
    that need to STORE per-shard sketches and merge them later
    (daily distincts rolled into monthly, per-shard corpus stats).

    Hashing: the 60-bit md5-derived :func:`hash64 <bytewax_spark.
    functions.text.hash64>` — top ``p`` bits pick the register, the
    remaining ``60 - p`` bits feed the rank (position of the highest
    set bit), so a SQL oracle reproduces every register exactly."""
    from .text import hash64

    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    wbits = 60 - p
    h = hash64(key.cast("string"))
    idx = F.shiftright(h, wbits).cast("int")
    w = h.bitwiseAND(F.lit((1 << wbits) - 1))
    # rank = leading zeros in the wbits-wide suffix + 1
    #      = wbits - floor(log2(w)), with the all-zeros suffix -> wbits + 1
    rank = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits) - F.floor(F.log2(w.cast("double"))).cast("int")
    )
    # group_cols yields one register table PER GROUP (a per-shard /
    # per-day sketch to store); merging shard tables later is
    # groupBy("idx").max("maxrank") — tested equal to a direct build
    gcols = [F.col(g) for g in (group_cols or [])]
    return (
        df.select(*gcols, idx.alias("idx"), rank.cast("int").alias("rank"))
        .groupBy(*(group_cols or []), "idx")
        .agg(F.max("rank").alias("maxrank"))
    )


def hll_estimate(registers: DataFrame, p: int = 10) -> DataFrame:
    """Flajolet et al. bias-corrected cardinality estimate from a
    register table → one row ``(est,)`` (int64).

    The harmonic-mean sum is computed on EXACT integers — each
    register contributes ``2**(S - maxrank)`` with a fixed scale
    ``S``, summed as int64 — so the one floating division and log
    happen on identical rationals in any engine and the rounded
    estimate is oracle-reproducible (no float-summation-order drift).
    Small-range (linear-counting) correction included; the 60-bit
    hash space makes the large-range correction irrelevant."""
    m = 1 << p
    wbits = 60 - p
    scale = 1 << (wbits + 1)  # 2**S with S = max possible rank
    alpha = 0.7213 / (1.0 + 1.079 / m)
    # shiftleft()'s python wrapper takes only a literal shift — use the
    # SQL form, where the shift may be an expression
    agg = registers.agg(
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {wbits + 1} - maxrank)")).alias(
            "ssum"
        ),
        F.count(F.lit(1)).alias("nz"),
    )
    v = F.lit(m) - F.col("nz")
    z = (v.cast("double") * scale + F.col("ssum")) / F.lit(float(scale))
    raw = F.lit(alpha * m * m) / z
    est = F.when(
        (raw <= 2.5 * m) & (v > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / v)
    ).otherwise(raw)
    return agg.select(F.round(est).cast("bigint").alias("est"))


def countmin_merge(*sketches: DataFrame) -> DataFrame:
    """Merge count-min sketch tables built with the SAME width/depth:
    element-wise counter addition. Use for per-shard / per-day
    sketches persisted by ``countmin_build`` — the merged table
    estimates the union stream exactly as if built in one pass."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("depth", "bucket").agg(F.sum("cnt").alias("cnt"))


def hll_merge(*registers: DataFrame) -> DataFrame:
    """Merge HLL register tables built with the SAME ``p``: per-index
    max. The merged estimate equals a direct build over the union of
    the inputs (tested associativity)."""
    if not registers:
        raise ValueError("need at least one register table")
    out = registers[0]
    for r in registers[1:]:
        out = out.unionByName(r)
    return out.groupBy("idx").agg(F.max("maxrank").alias("maxrank"))


def histogram_build(
    df: DataFrame,
    value_col: str | Column,
    lo: float,
    hi: float,
    bins: int = 256,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Fixed-bin histogram sketch of ``value_col`` over [lo, hi) →
    ``(bin, cnt)`` (+ group columns), at most ``bins`` rows per group.
    Values outside the range clamp into the edge bins, so total mass
    is conserved and the merge (counter addition, same as
    :func:`countmin_merge`) is lossless.

    This is the mergeable quantile-state complement to Spark's
    ``percentile_approx``: store per-shard histograms, add them, and
    read any quantile later — the classic fixed-bin trade
    (deterministic integer counts, error bounded by bin width) that a
    SQL oracle reproduces exactly, where a t-digest's centroid
    positions depend on merge order."""
    if bins <= 0:
        raise ValueError(f"bins must be positive, got {bins}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    v = (F.col(value_col) if isinstance(value_col, str) else value_col).cast("double")
    raw = F.floor((v - F.lit(float(lo))) / F.lit((hi - lo) / bins)).cast("int")
    bin_ = F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1))
    gcols = list(group_cols or [])
    return (
        df.select(*gcols, bin_.alias("bin"))
        .groupBy(*gcols, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_quantile(
    hist: DataFrame, q: float, lo: float, hi: float, bins: int = 256
) -> DataFrame:
    """Estimate the ``q``-quantile from a built histogram → one row
    ``(est,)``, linearly interpolated inside the target bin and
    quantized to micro-units (int64) so the value is engine-exact.
    ``lo``/``hi``/``bins`` must match the build call."""
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must be in [0, 1], got {q}")
    w = (hi - lo) / bins
    # cumulative count up to each bin, then the first bin reaching q*N
    cum = hist.select(
        "bin",
        "cnt",
        # a window over <= bins rows (bounded by construction): the
        # single-partition sort is over the SKETCH, never the data
        F.sum("cnt").over(Window.orderBy("bin")).alias("_cum"),
    )
    total = hist.agg(F.sum("cnt").alias("_n")).withColumn("_k", F.lit(1))
    target = cum.withColumn("_k", F.lit(1)).join(F.broadcast(total), "_k")
    hit = (
        target.filter(F.col("_cum") >= F.lit(q) * F.col("_n"))
        .orderBy("bin")
        .limit(1)
    )
    frac = (F.lit(q) * F.col("_n") - (F.col("_cum") - F.col("cnt"))) / F.col("cnt")
    est = F.lit(float(lo)) + (F.col("bin") + frac) * F.lit(w)
    return hit.select(
        F.round(est * 1_000_000).cast("bigint").alias("est_micro")
    )


def hll_estimate_grouped(
    registers: DataFrame, group_cols: list[str], p: int = 10
) -> DataFrame:
    """Per-group estimates from a ``group_cols`` register build →
    one row per group ``(*group_cols, est)``. Same integer-scaled
    estimator as :func:`hll_estimate`, aggregated per group — the
    "distinct users per segment per day" read over stored sketches."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty (use hll_estimate)")
    m = 1 << p
    wbits = 60 - p
    scale = 1 << (wbits + 1)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = registers.groupBy(*group_cols).agg(
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {wbits + 1} - maxrank)")).alias(
            "ssum"
        ),
        F.count(F.lit(1)).alias("nz"),
    )
    v = F.lit(m) - F.col("nz")
    z = (v.cast("double") * scale + F.col("ssum")) / F.lit(float(scale))
    raw = F.lit(alpha * m * m) / z
    est = F.when(
        (raw <= 2.5 * m) & (v > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / v)
    ).otherwise(raw)
    return agg.select(*group_cols, F.round(est).cast("bigint").alias("est"))


def bloom_build(
    df: DataFrame,
    key: Column | str,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Bloom filter as a SET-BIT TABLE: one row per distinct set bit
    position (Bloom 1970, public). ``k`` positions per key from the
    same md5 digest-splitting as the count-min sketch (one md5 per row
    for k <= 4). The table form is mergeable (``bloom_merge`` = union
    + distinct), shippable (a few MB of bigints broadcast to probes),
    and engine-neutral — the exact property an oracle can replay.

    Sibling: ``functions.dedup.bloom_build`` packs the filter into
    dense int64 WORDS carried as a plan literal — zero joins at probe
    time, but the whole filter rides every task binary and two filters
    can't merge without a rebuild. Use the word form for one fixed
    seen-corpus filter in a hot path; use this table form when filters
    are built per shard/day and merged, or when the probe side is
    itself a DataFrame join.

    Sizing: false-positive rate ≈ (1 - e^(-k·n/m))^k; the default
    2^20 bits at k=4 holds ~10⁵ keys at <2.5% FP. At 100 TB build one
    bloom per partition/shard and merge — the build is one explode +
    one distinct (hash shuffle on positions, map-side combine)."""
    if m_bits <= 0 or k <= 0:
        raise ValueError(f"m_bits and k must be positive, got {m_bits}, {k}")
    key = F.col(key) if isinstance(key, str) else key
    pos = countmin_positions(key, m_bits, k)
    return (
        df.select(F.explode(F.array(*pos)).alias("pos"))
        .distinct()
    )


def bloom_contains(
    bloom: DataFrame,
    probes: DataFrame,
    key: Column | str,
    m_bits: int = 1 << 20,
    k: int = 4,
    out_col: str = "might_contain",
) -> DataFrame:
    """Membership test against a ``bloom_build`` table: a probe is
    positive iff ALL of its ``k`` bit positions are set — no false
    negatives ever; false positives at the sized rate. Returns the
    probe rows + ``out_col`` boolean.

    The probe explodes to its distinct positions, left-joins the bit
    table (broadcastable — it is small by construction), and checks
    matched == needed. Keep probe rows distinct on the key upstream if
    you want one verdict per key."""
    key_c = F.col(key) if isinstance(key, str) else key
    pos = countmin_positions(key_c, m_bits, k)
    cols = probes.columns
    exploded = (
        probes.withColumn("_pos", F.explode(F.array_distinct(F.array(*pos))))
    )
    marked = exploded.join(
        bloom.withColumnRenamed("pos", "_pos").withColumn("_hit", F.lit(1)),
        "_pos",
        "left",
    )
    return (
        marked.groupBy(*cols)
        .agg(
            (F.count(F.lit(1)) == F.sum(F.coalesce(F.col("_hit"), F.lit(0))))
            .alias(out_col)
        )
    )


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union of two set-bit tables — the Bloom OR. Associative and
    idempotent; merge per-shard blooms into the corpus bloom."""
    return a.unionByName(b).distinct()


def kmv_build(
    df: DataFrame,
    key_col: str | Column,
    k: int = 64,
    group_cols: list[str] | None = None,
    prefilter_bits: int = 12,
) -> DataFrame:
    """K-Minimum-Values distinct sketch (Bar-Yossef et al. 2002,
    public): the ``k`` SMALLEST distinct 60-bit md5 hashes of
    ``key_col`` → ``(rk, h)`` rows (plus ``group_cols``), ``rk`` the
    1-based rank. Unlike HLL it supports SET OPERATIONS — union is
    "merge + keep k smallest", and intersections/Jaccard fall out of
    the union sketch (:func:`kmv_jaccard`) — which is why it is the
    sketch of record for audience-overlap style questions.

    Scale: distinct hashes first (one hash shuffle with map-side
    partial dedup — the exact-dedup cost class). The GLOBAL bottom-k
    then avoids a single-partition sort with a range-bucket two-phase
    rank: the hash's top ``prefilter_bits`` bits are an ORDER-PRESERVING
    bucket (hash is uniform), per-bucket counts (≤ 2^prefilter_bits
    tiny rows) pick the cutoff bucket via a running sum, only the
    ≤ (k + one-bucket-width) surviving hashes reach the final
    ``row_number`` window. Grouped builds window per group directly —
    the partitioning is the group key, no global sort exists.

    Determinism: the md5-derived :func:`~bytewax_spark.functions.text.
    hash64` makes every sketch row oracle-reproducible."""
    from .text import hash64

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    gcols = list(group_cols or [])
    h = hash64(key.cast("string")).alias("h")
    hashes = df.select(*gcols, h).distinct()
    if gcols:
        w = Window.partitionBy(*gcols).orderBy("h")
        return (
            hashes.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select(*gcols, "rk", "h")
        )
    shift = 60 - prefilter_bits
    bucketed = hashes.withColumn("_b", F.shiftright("h", shift))
    cnt = bucketed.groupBy("_b").agg(F.count(F.lit(1)).alias("_n"))
    wcum = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, 0)
    cutoff = (
        cnt.withColumn("_cum", F.sum("_n").over(wcum))
        .filter(F.col("_cum") - F.col("_n") < k)
        .select("_b")
    )
    survivors = bucketed.join(F.broadcast(cutoff), "_b", "left_semi")
    w = Window.orderBy("h")
    return (
        survivors.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("rk", "h")
    )


def kmv_merge(*sketches: DataFrame, k: int = 64) -> DataFrame:
    """Merge KMV sketches built with the same hash: union the hash
    sets and keep the ``k`` smallest — the result equals a direct
    build over the union of the inputs (the min-wise property)."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0].select("h")
    for s in sketches[1:]:
        out = out.unionByName(s.select("h"))
    w = Window.orderBy("h")
    return (
        out.distinct()
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("rk", "h")
    )


def kmv_estimate(sketch: DataFrame, k: int = 64) -> DataFrame:
    """Unbiased distinct-count estimate from a KMV sketch → one row
    ``(est,)``: ``(k - 1) * 2^60 / h_(k)`` with ``h_(k)`` the k-th
    smallest hash; when the sketch holds fewer than ``k`` hashes the
    count is EXACT (every distinct hash is present).

    The division runs in INTEGER arithmetic — DECIMAL(38,0) numerator
    ``(k-1) << 60`` floor-divided by the int64 kth value — so the
    estimate is bit-reproducible in any engine (no float summation
    or rounding-mode drift)."""
    agg = sketch.agg(F.max("h").alias("_kth"), F.count(F.lit(1)).alias("_n"))
    num = F.lit(k - 1).cast("decimal(38,0)") * F.lit(1 << 60).cast("decimal(38,0)")
    est = F.when(F.col("_n") < k, F.col("_n").cast("bigint")).otherwise(
        F.floor(num / F.col("_kth").cast("decimal(38,0)")).cast("bigint")
    )
    return agg.select(est.alias("est"))


def kmv_jaccard(a: DataFrame, b: DataFrame, k: int = 64) -> DataFrame:
    """Jaccard similarity estimate between the key sets behind two KMV
    sketches (Beyer et al. 2007, public): take the union sketch's ``k``
    smallest hashes ``U_k`` and count how many are in BOTH input
    sketches → one row ``(matches, union_k, jaccard_micro)`` with
    ``jaccard_micro = floor(matches * 1e6 / union_k)`` — pure integer
    outputs, engine-exact. ``union_k`` < k happens only when the union
    itself has fewer than k distinct keys (then the estimate is exact).

    This is the set-operation capability HLL lacks: intersection
    cardinality follows as ``J * |A ∪ B|`` with the union size from
    :func:`kmv_estimate` on the merged sketch."""
    union_k = kmv_merge(a, b, k=k).select("h")
    marked = (
        union_k.join(a.select(F.col("h").alias("h")).distinct(), "h", "left_semi")
        .join(b.select("h").distinct(), "h", "left_semi")
    )
    u = union_k.agg(F.count(F.lit(1)).alias("union_k"))
    m = marked.agg(F.count(F.lit(1)).alias("matches"))
    return (
        m.withColumn("_k", F.lit(1))
        .join(u.withColumn("_k", F.lit(1)), "_k")
        .select(
            "matches",
            "union_k",
            F.floor(F.col("matches") * F.lit(1000000) / F.col("union_k"))
            .cast("bigint")
            .alias("jaccard_micro"),
        )
    )


def kmv_overlap_matrix(sketch: DataFrame, group_col: str, k: int = 64) -> DataFrame:
    """PAIRWISE overlap matrix between every two groups' key sets,
    computed ENTIRELY in sketch space from a grouped KMV build
    (:func:`kmv_build` with ``group_cols=[group_col]``) — the
    all-pairs generalization of :func:`kmv_jaccard`. Returns one row
    per unordered group pair ``(g_a, g_b, matches, union_k,
    jaccard_micro)`` with ``g_a < g_b``.

    For each pair, the union sketch is the ``k`` smallest hashes of
    the two groups' sketch unions (the min-wise property makes that
    equal to a direct build over the concatenated groups), ``matches``
    counts union-sketch hashes present in BOTH group sketches, and
    ``jaccard_micro = floor(10^6 * matches / union_k)`` — the
    unbiased bottom-k Jaccard estimator (Beyer et al. 2007, public),
    integer outputs only.

    Scale shape: this never touches the raw data — ``G`` groups cost
    ``G*k`` sketch rows in, ``G*(G-1)*k`` tagged rows through one
    window (each group's sketch replicated to its ``G-1`` pairs via a
    broadcast pair-list join), ``G²/2`` rows out. A 100-source corpus
    audit is ~633 k tiny rows regardless of corpus size — the whole
    point of doing set algebra on sketches instead of keys."""
    g = F.col(group_col)
    sk = sketch.select(g.alias("_g"), "h")
    groups = sk.select("_g").distinct()
    pairs = (
        groups.select(F.col("_g").alias("g_a"))
        .join(groups.select(F.col("_g").alias("g_b")), F.col("g_a") < F.col("g_b"))
    )
    # replicate each group's sketch rows onto every pair it belongs to
    # (broadcast: the pair list is G² tiny rows)
    tagged = sk.join(
        F.broadcast(pairs),
        (F.col("_g") == F.col("g_a")) | (F.col("_g") == F.col("g_b")),
    ).select(
        "g_a",
        "g_b",
        "h",
        (F.col("_g") == F.col("g_a")).alias("_in_a"),
        (F.col("_g") == F.col("g_b")).alias("_in_b"),
    )
    # a hash can arrive from both sides of a pair: collapse to one row
    # carrying both membership flags, then rank the pair's union
    per_h = tagged.groupBy("g_a", "g_b", "h").agg(
        F.max("_in_a").alias("_in_a"), F.max("_in_b").alias("_in_b")
    )
    w = Window.partitionBy("g_a", "g_b").orderBy("h")
    union_k = per_h.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
    return (
        union_k.groupBy("g_a", "g_b")
        .agg(
            F.sum(
                (F.col("_in_a") & F.col("_in_b")).cast("bigint")
            ).alias("matches"),
            F.count(F.lit(1)).alias("union_k"),
        )
        .select(
            "g_a",
            "g_b",
            "matches",
            "union_k",
            F.floor(F.col("matches") * F.lit(1_000_000) / F.col("union_k"))
            .cast("bigint")
            .alias("jaccard_micro"),
        )
    )


def moments_scale_bits(k: int) -> int:
    """Quantization width for :func:`moments_build`: the scaled value
    lives in ``[-2^b, 2^b]`` with ``b = min(20, 80 // k)``, chosen so
    the largest power sum ``n * (2^b)^k`` stays inside DECIMAL(38,0)
    even at ``n = 10^12`` rows (``(2^20)^4 * 10^12 ≈ 1.2e36``)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return min(20, 80 // k)


def moments_build(
    df: DataFrame,
    value_col: str | Column,
    lo: float,
    hi: float,
    k: int = 4,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Moments quantile sketch (Gan et al., VLDB 2018, public): the
    first ``k`` power sums of ``value_col`` over a FIXED range
    ``[lo, hi]`` → one row per group ``(n, smin, smax, m1..mk)``.
    Values clamp into the range; the scaled integer
    ``s = round((clamp(v)-lo)/(hi-lo) * 2S) - S ∈ [-S, S]`` with
    ``S = 2^moments_scale_bits(k)`` makes every power sum an EXACT
    DECIMAL(38,0) — associative, order-independent, engine-identical —
    where the paper's float power sums drift with aggregation order.

    This is the O(k)-state mergeable quantile complement to
    :func:`histogram_build`: a histogram stores ``bins`` counters for
    bin-width error; the moments sketch stores ``k+3`` numbers and
    reconstructs a smooth density (maximum entropy, solved at READ
    time by :func:`moments_quantiles`). Merge = element-wise addition
    (:func:`moments_merge`), so per-shard / per-day sketches roll up
    to the corpus sketch without touching the data again — the
    100 TB shape: one map-side-combined aggregation, ``k+3`` numbers
    per group out, nothing else moves.
    """
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    bits = moments_scale_bits(k)
    s_cap = 1 << bits
    v = (F.col(value_col) if isinstance(value_col, str) else value_col).cast(
        "double"
    )
    clamped = F.least(F.greatest(v, F.lit(float(lo))), F.lit(float(hi)))
    s = (
        F.round((clamped - F.lit(float(lo))) / F.lit(hi - lo) * F.lit(2 * s_cap))
        .cast("bigint")
        - F.lit(s_cap)
    ).alias("_s")
    gcols = list(group_cols or [])
    scaled = df.select(*gcols, s)
    # powers in DECIMAL: _s fits decimal(7,0); each multiply widens the
    # precision Spark tracks but the VALUES stay exact (<= 2^80)
    p = F.col("_s").cast("decimal(7,0)")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.min("_s").alias("smin"),
        F.max("_s").alias("smax"),
    ]
    acc = p
    for i in range(1, k + 1):
        aggs.append(
            F.sum(acc.cast("decimal(28,0)")).cast("decimal(38,0)").alias(f"m{i}")
        )
        acc = acc * p
    return scaled.groupBy(*gcols).agg(*aggs)


def moments_merge(*sketches: DataFrame) -> DataFrame:
    """Merge moments sketches built with the SAME ``lo, hi, k``:
    counts and power sums add, min/max combine — exact (decimal
    addition is associative), so merged == direct build over the
    concatenated inputs."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    mcols = [c for c in out.columns if c.startswith("m") and c[1:].isdigit()]
    return out.agg(
        F.sum("n").alias("n"),
        F.min("smin").alias("smin"),
        F.max("smax").alias("smax"),
        *[F.sum(c).cast("decimal(38,0)").alias(c) for c in mcols],
    )


def _cheb_vander(u, k):
    """Chebyshev basis T_0..T_k evaluated on grid ``u`` (numpy)."""
    import numpy as np

    t = np.empty((k + 1, u.size))
    t[0] = 1.0
    if k >= 1:
        t[1] = u
    for i in range(2, k + 1):
        t[i] = 2.0 * u * t[i - 1] - t[i - 2]
    return t


def _maxent_cdf_grid(mus: list[float], grid_n: int = 2048):
    """Solve the maximum-entropy density on [-1, 1] matching power
    moments ``mus`` (mus[0] == 1), in the Chebyshev basis for
    conditioning (the Moments Sketch paper's solver, public method:
    Newton on the convex dual). Returns (u_grid, cdf) as numpy arrays.
    Driver-side only, O(grid_n * k^2) — never runs on executors."""
    import numpy as np

    k = len(mus) - 1
    u = np.linspace(-1.0, 1.0, grid_n)
    t = _cheb_vander(u, k)
    # target Chebyshev moments: T_i is a polynomial in u with known
    # coefficients; E[T_i] is the same combination of power moments
    cheb_target = np.empty(k + 1)
    coef = np.zeros((k + 1, k + 1))  # coef[i, j]: u^j coefficient of T_i
    coef[0, 0] = 1.0
    if k >= 1:
        coef[1, 1] = 1.0
    for i in range(2, k + 1):
        coef[i, 1:] = 2.0 * coef[i - 1, :-1]
        coef[i, :] -= coef[i - 2, :]
    mus_arr = np.asarray(mus)
    for i in range(k + 1):
        cheb_target[i] = float(coef[i] @ mus_arr)
    lam = np.zeros(k + 1)
    lam[0] = -np.log(2.0)  # uniform density start
    dx = u[1] - u[0]
    for _ in range(60):
        f = np.exp(np.clip(lam @ t, -700, 700))
        # trapezoid weights
        w = np.full_like(u, dx)
        w[0] = w[-1] = dx / 2
        fw = f * w
        grad = t @ fw - cheb_target
        hess = (t * fw) @ t.T
        try:
            step = np.linalg.solve(hess + 1e-12 * np.eye(k + 1), grad)
        except np.linalg.LinAlgError:
            break
        # damped Newton: keep the dual objective finite
        scale = 1.0
        for _ in range(30):
            cand = lam - scale * step
            if np.all(np.isfinite(cand)) and np.max(cand @ t) < 700:
                break
            scale /= 2
        lam = lam - scale * step
        if np.max(np.abs(grad)) < 1e-10:
            break
    f = np.exp(np.clip(lam @ t, -700, 700))
    cdf = np.cumsum((f[:-1] + f[1:]) / 2 * dx)
    cdf = np.concatenate(([0.0], cdf))
    if cdf[-1] > 0:
        cdf = cdf / cdf[-1]
    return u, cdf


def moments_quantiles(
    sketch: DataFrame,
    qs: list[float],
    lo: float,
    hi: float,
    k: int = 4,
) -> DataFrame:
    """Read quantiles out of a (merged) moments sketch → rows
    ``(q_micro, est_micro)``: maximum-entropy density reconstruction
    from the stored power sums, CDF inversion on a fixed grid. The
    collect is bounded (ONE sketch row); the solve is driver-side
    numpy over a 2048-point grid — milliseconds, independent of data
    size. ``lo, hi, k`` must match the build call.

    Estimation error follows the paper's maxent behavior (typically
    ~1% of range at k=4 for smooth distributions); the sketch is the
    scale tool — for exact quantiles at small scale use
    ``percentile_approx`` or a full sort."""
    import numpy as np  # noqa: F401  (solver dependency, checked here)

    bits = moments_scale_bits(k)
    s_cap = 1 << bits
    row = sketch.collect()
    if len(row) != 1:
        raise ValueError(f"expected one sketch row, got {len(row)}")
    r = row[0]
    n = int(r["n"])
    if n == 0:
        raise ValueError("empty sketch")
    # standardized power moments of u = s / S on [-1, 1]
    mus = [1.0] + [
        float(int(r[f"m{i}"])) / (n * float(s_cap) ** i) for i in range(1, k + 1)
    ]
    u, cdf = _maxent_cdf_grid(mus)
    # clip the support to the observed [smin, smax] band
    u_lo, u_hi = r["smin"] / s_cap, r["smax"] / s_cap
    out = []
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"q must be in [0, 1], got {q}")
        uq = float(np.interp(q, cdf, u))
        uq = min(max(uq, u_lo), u_hi)
        v = lo + (hi - lo) * (uq + 1.0) / 2.0
        out.append((int(round(q * 1_000_000)), int(round(v * 1_000_000))))
    spark = sketch.sparkSession
    return spark.createDataFrame(out, "q_micro bigint, est_micro bigint")


def moments_quantiles_grouped(
    sketch: DataFrame,
    group_cols: list[str],
    qs: list[float],
    lo: float,
    hi: float,
    k: int = 4,
) -> DataFrame:
    """Per-group quantile readout from a grouped moments sketch →
    rows ``(*group_cols, q_micro, est_micro)``. Collects the sketch
    (one row PER GROUP — bounded by the group count, never the data)
    and runs the maxent solve per group driver-side; the per-group
    work is the same milliseconds-scale grid solve as
    :func:`moments_quantiles`."""
    import numpy as np

    if not group_cols:
        raise ValueError("group_cols must be non-empty (use moments_quantiles)")
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"q must be in [0, 1], got {q}")
    bits = moments_scale_bits(k)
    s_cap = 1 << bits
    out = []
    for r in sketch.collect():
        n = int(r["n"])
        if n == 0:
            continue
        mus = [1.0] + [
            float(int(r[f"m{i}"])) / (n * float(s_cap) ** i)
            for i in range(1, k + 1)
        ]
        u, cdf = _maxent_cdf_grid(mus)
        u_lo, u_hi = r["smin"] / s_cap, r["smax"] / s_cap
        key = tuple(r[g] for g in group_cols)
        for q in qs:
            uq = min(max(float(np.interp(q, cdf, u)), u_lo), u_hi)
            v = lo + (hi - lo) * (uq + 1.0) / 2.0
            out.append(
                key + (int(round(q * 1_000_000)), int(round(v * 1_000_000)))
            )
    gschema = ", ".join(
        f"{g} {dict(sketch.dtypes)[g]}" for g in group_cols
    )
    return sketch.sparkSession.createDataFrame(
        out, f"{gschema}, q_micro bigint, est_micro bigint"
    )


def countmin_join_size(a: DataFrame, b: DataFrame, depth: int = 4) -> DataFrame:
    """Estimate the inner join's output cardinality from two count-min
    sketches BEFORE running the join (Alon-Matias-Szegedy style
    inner-product estimation over CM sketches — Cormode & Muthukrishnan
    2005 §4.2, public): ``|A ⋈ B| = Σ_key cntA(k)·cntB(k)`` is upper-
    bounded by the bucket-wise inner product of each depth row; the
    estimate is the MIN over depths (always ``>= true``, same
    one-sided guarantee as the point estimator). Returns one row
    ``(est,)``.

    Both sketches must share ``width``/``depth``/key hashing. The
    whole estimate reads ``2·depth·width`` counter rows — the
    join-planning question ("will this join explode?") answered
    without touching either table.

    The sketch tables are sparse (empty buckets have no row), so a
    depth with NO overlapping buckets vanishes from the bucket join —
    its inner product is 0, which forces the min (and the true join
    size) to 0; the final agg checks for missing depth rows instead
    of trusting ``min`` over the surviving ones."""
    prod = (
        a.select("depth", "bucket", F.col("cnt").alias("_ca"))
        .join(
            b.select("depth", "bucket", F.col("cnt").alias("_cb")),
            ["depth", "bucket"],
        )
        .groupBy("depth")
        .agg(F.sum(F.col("_ca") * F.col("_cb")).alias("_ip"))
    )
    return prod.agg(
        F.coalesce(
            F.when(F.count(F.lit(1)) < depth, F.lit(0)).otherwise(F.min("_ip")),
            F.lit(0),
        )
        .cast("bigint")
        .alias("est")
    )
