"""Record linkage / entity resolution — blocked fuzzy joins on edit
distance. The classic data-cleaning shape: candidate pairs are
generated only WITHIN equi-blocks (never a global cross product), a
cheap length-band necessary condition prunes before the expensive
comparator, and the bounded Levenshtein kernel (threshold variant —
early-exits once the band is exceeded) runs JVM-side.

Scale posture (100 TB): the quadratic blow-up is bounded per block —
choose block keys so the largest block's pair count fits an executor
(the same discipline as LSH buckets in functions/dedup.py). The join
itself is a plain equi-shuffle on the block key; the distance filter
is evaluated stream-side inside the join, so non-candidates never
materialize. No Python, no cartesian.

Parity note: the reference has no fuzzy-matching surface; its users
hand-roll this with ``join`` + ``filter`` (reference
pysrc/bytewax/operators/__init__.py:1155 join docs). Beyond-reference
layer per SURVEY.md §2.7.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bytewax_spark.io import _shuffle_partitions

__all__ = ["blocked_fuzzy_join", "fuzzy_self_pairs", "sorted_neighborhood_pairs"]


def blocked_fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    block_on: Sequence[tuple[str, str]],
    text: tuple[str, str],
    max_dist: int,
    dist_col: str = "dist",
    n_slices: int = 1,
) -> DataFrame:
    """Join ``left`` and ``right`` rows whose ``text`` columns are
    within Levenshtein distance ``max_dist``, comparing ONLY rows that
    agree on every ``block_on`` pair. Returns all left columns + all
    right columns + ``dist_col``.

    ``block_on``: [(left_col, right_col), ...] equi-block keys.
    ``text``: (left_col, right_col) compared with the THRESHOLD form of
    ``levenshtein`` — the JVM kernel abandons a pair as soon as the
    running distance exceeds ``max_dist`` (O(max_dist·len) instead of
    O(len²)). A length-difference band (``|len(l)-len(r)| <= max_dist``,
    a necessary condition for edit distance) prunes first.

    ``n_slices`` > 1 is the parallelism lever when the BLOCK COUNT is
    small (a 25-nation blocking caps the comparator pass at 25 tasks):
    the LEFT side is sliced by a hash of its text column and explicitly
    repartitioned to ``spark.sql.shuffle.partitions`` on
    ``(_slice, blocks)``; the right side replicates per slice. The pair
    set is unchanged — same rationale as ``fuzzy_self_pairs``.
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if n_slices < 1:
        raise ValueError(f"n_slices must be >= 1, got {n_slices}")
    lt, rt = text
    if n_slices > 1:
        left = left.withColumn(
            "_slice_l", F.pmod(F.xxhash64(F.col(lt)), F.lit(n_slices))
        ).repartition(_shuffle_partitions(left), "_slice_l", *[lc for lc, _ in block_on])
        right = right.withColumn(
            "_slice_r", F.explode(F.sequence(F.lit(0), F.lit(n_slices - 1)))
        )
        cond = left["_slice_l"] == right["_slice_r"]
    else:
        cond = None
    for lc, rc in block_on:
        c = left[lc] == right[rc]
        cond = c if cond is None else (cond & c)
    band = (
        F.abs(F.length(left[lt]) - F.length(right[rt])) <= max_dist
    )
    cond = band if cond is None else (cond & band)
    d = F.levenshtein(left[lt], right[rt], max_dist)
    cond = cond & (d >= 0)
    out = left.join(right, cond).withColumn(dist_col, d)
    if n_slices > 1:
        out = out.drop("_slice_l", "_slice_r")
    return out


def fuzzy_self_pairs(
    df: DataFrame,
    id_col: str,
    block_cols: Sequence[str],
    text_col: str,
    max_dist: int,
    n_slices: int = 1,
) -> DataFrame:
    """Near-duplicate candidate pairs WITHIN one table: rows agreeing
    on ``block_cols`` whose ``text_col`` values are within edit
    distance ``max_dist``. Each unordered pair appears once
    (``id_a < id_b``). Returns ``(id_a, id_b, dist)``.

    The self-join shuffles the (id, block, text) projection twice on
    the block key — 3 narrow columns, never whole rows.

    ``n_slices`` > 1 is the parallelism lever when the BLOCK COUNT is
    small (a 25-nation blocking caps the join at 25 tasks no matter
    how many cores exist): the left side is sliced by a hash of the
    id, the right side replicated to every slice, so the same pair set
    spreads over ``blocks × n_slices`` tasks. Pure fan-out — each
    unordered pair still lands in exactly one (left-slice) task; the
    comparator work is unchanged, only its distribution. Cost: the
    right side's narrow projection is shuffled ``n_slices`` times."""
    if n_slices < 1:
        raise ValueError(f"n_slices must be >= 1, got {n_slices}")
    slim = df.select(
        F.col(id_col), *[F.col(c) for c in block_cols], F.col(text_col)
    )
    if n_slices > 1:
        # explicit-count repartition on (slice, block): when the
        # optimizer broadcasts the right side, the STREAM side's input
        # partitioning is the parallelism — a single-file table would
        # otherwise run the whole comparator pass in one task, and an
        # implicit repartition would be AQE-coalesced right back (the
        # row payload is tiny; the work is per-PAIR, which AQE cannot
        # see). The explicit count pins the fan-out.
        a_side = slim.withColumn(
            "_slice", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_slices))
        ).repartition(_shuffle_partitions(df), "_slice", *block_cols)
        b_side = slim.withColumn(
            "_slice", F.explode(F.sequence(F.lit(0), F.lit(n_slices - 1)))
        )
    else:
        a_side = slim.withColumn("_slice", F.lit(0))
        b_side = slim.withColumn("_slice", F.lit(0))
    a, b = a_side.alias("_a"), b_side.alias("_b")
    ac = lambda c: F.col(f"_a.{c}")  # noqa: E731
    bc = lambda c: F.col(f"_b.{c}")  # noqa: E731
    cond = (ac(id_col) < bc(id_col)) & (ac("_slice") == bc("_slice"))
    for c in block_cols:
        cond = cond & (ac(c) == bc(c))
    cond = cond & (
        F.abs(F.length(ac(text_col)) - F.length(bc(text_col))) <= max_dist
    )
    d = F.levenshtein(ac(text_col), bc(text_col), max_dist)
    cond = cond & (d >= 0)
    return a.join(b, cond).select(
        ac(id_col).alias("id_a"),
        bc(id_col).alias("id_b"),
        d.alias("dist"),
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    sort_col: str,
    text_col: str,
    max_dist: int,
    window: int = 10,
) -> DataFrame:
    """Sorted-neighborhood record linkage (Hernández & Stolfo 1995,
    public): rank all rows by ``(sort_col, id_col)``, compare each row
    only to its next ``window`` neighbors in that order, keep pairs
    within Levenshtein ``max_dist`` of ``text_col``. Returns
    ``(id_a, id_b, dist)`` with ``id_a < id_b``.

    The complement to equi-blocking (:func:`fuzzy_self_pairs`):
    blocking never compares across blocks, while a sort key built from
    the match field puts near-duplicates adjacent REGARDLESS of any
    block attribute — the standard multi-pass ER recipe runs both and
    unions the pairs.

    Scale shape — no global sort, no non-equi join:
    1. the global rank is two-phase, the ``prefix_sum`` scheme adapted
       to ARBITRARY orderable sort keys: order-preserving buckets come
       from seeded-SAMPLE boundaries frozen into the plan as literals
       (Spark's own RangePartitioner discipline — the rank is EXACT no
       matter how lopsided the sample is; boundaries only shape the
       partitioning), per-bucket ``row_number`` windows, and one
       bounded collect of per-bucket counts for the offsets — never a
       single-partition ROW_NUMBER;
    2. neighbors within ``window`` ranks must sit in the same or the
       next rank-block of size ``window``, so the left side explodes
       to 2 rows (its block and the next) and the candidate join is a
       plain EQUI-shuffle on the block id, filtered to
       ``0 < rank_b - rank_a <= window`` — O(n·window/block) pairs,
       never a range-join nested loop;
    3. the length band + threshold Levenshtein prune as in the
       blocked joins.

    Requires a deterministic input (the lineage executes more than
    once — same contract as ``prefix_sum``).
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    from pyspark.sql import Window

    slim = df.select(F.col(id_col), F.col(sort_col), F.col(text_col))
    parts = _shuffle_partitions(df)
    boundaries: list = []
    if parts > 1:
        # seeded sample -> driver-side evenly spaced cut points; tiny
        # and bounded (the sample is capped by fraction of a stats
        # pass, the boundary list by parts-1 literals)
        sample = [
            r[0]
            for r in slim.select(sort_col)
            .sample(fraction=min(1.0, 10000 / max(slim.count(), 1)), seed=42)
            .collect()
        ]
        sample.sort()
        if sample:
            step = max(len(sample) // parts, 1)
            boundaries = sorted({sample[i] for i in range(step, len(sample), step)})
    pid = F.lit(0)
    for b in boundaries:
        pid = pid + (F.col(sort_col) >= F.lit(b)).cast("int")
    bucketed = slim.withColumn("_pid", pid)
    w = Window.partitionBy("_pid").orderBy(F.col(sort_col), F.col(id_col))
    local = bucketed.withColumn("_lrk", F.row_number().over(w))
    counts = sorted(
        (r["_pid"], r["_n"])
        for r in local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n")).collect()
    )
    offset, offsets = 0, {}
    for p, cnt in counts:
        offsets[p] = offset
        offset += cnt
    off_expr = F.lit(0)
    for p, o in offsets.items():
        off_expr = F.when(F.col("_pid") == p, F.lit(o)).otherwise(off_expr)
    ranked = local.withColumn("_rk", F.col("_lrk") + off_expr).withColumn(
        "_blk", F.floor((F.col("_rk") - 1) / window)
    )
    a = ranked.select(
        F.col(id_col).alias("_ida"),
        F.col(text_col).alias("_ta"),
        F.col("_rk").alias("_rka"),
        F.explode(
            F.array(F.col("_blk"), F.col("_blk") + 1)
        ).alias("_jblk"),
    )
    b = ranked.select(
        F.col(id_col).alias("_idb"),
        F.col(text_col).alias("_tb"),
        F.col("_rk").alias("_rkb"),
        F.col("_blk").alias("_jblk"),
    )
    d = F.levenshtein(F.col("_ta"), F.col("_tb"), max_dist)
    pairs = (
        a.join(b, "_jblk")
        .filter(
            (F.col("_rkb") > F.col("_rka"))
            & (F.col("_rkb") - F.col("_rka") <= window)
        )
        .filter(F.abs(F.length("_ta") - F.length("_tb")) <= max_dist)
        .filter(d >= 0)
    )
    return pairs.select(
        F.least("_ida", "_idb").alias("id_a"),
        F.greatest("_ida", "_idb").alias("id_b"),
        d.cast("int").alias("dist"),
    ).distinct()
