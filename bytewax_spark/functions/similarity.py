"""Similarity search over embedding columns (``array<float>``).

Three tiers, matching how ANN is actually deployed on big tables:

- :func:`cosine_topk` — brute force. O(N·d) per query, exact. The
  baseline and the in-cell kernel for IVF. Pure ``zip_with`` /
  ``aggregate`` expressions — codegen'd, no Python, no shuffle beyond
  the final top-k (``orderBy(...).limit(k)`` compiles to Spark's
  TakeOrderedAndProject: per-partition heaps + driver merge of k rows,
  NOT a global sort).
- :func:`ivf_topk` — inverted-file: centroid per cell (here the
  ``label`` column or any clustering), probe the ``nprobe`` nearest
  cells, brute-force inside. At 100 TB: cells are the partition key,
  so a query touches nprobe partitions instead of the full table.
- :func:`lsh_buckets` — random-hyperplane signatures (seeded,
  deterministic): sign-bit bucket key for join-based candidate
  generation; hamming-adjacent buckets = multiprobe.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..io import _shuffle_partitions, read_parquet

__all__ = [
    "adaptive_n_planes",
    "centroid_outliers",
    "as_double",
    "cosine",
    "cosine_topk",
    "cosine_topk_batch",
    "hard_negatives",
    "ivf_topk",
    "ivf_search_index",
    "ivf_write_index",
    "knn_label_agreement",
    "knn_label_agreement_lsh",
    "ranking_eval",
    "lsh_bucket_col",
    "lsh_buckets",
    "lsh_probe_buckets",
    "pq_adc_topk",
    "pq_encode",
    "pq_train",
    "quantize_embeddings",
    "random_projection",
]


def as_double(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.transform(c, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    # zero-norm guard: cosine with a zero vector is undefined — define
    # it as 0.0 (rank-neutral) instead of tripping ANSI DIVIDE_BY_ZERO
    # (Spark 4 defaults ansi on; a k-means centroid of a symmetric
    # cloud can be exactly zero). No-op for any nonzero pair.
    denom = _norm(a) * _norm(b)
    return F.when(denom != 0.0, _dot(a, b) / denom).otherwise(F.lit(0.0))


def _qvec(query_vec: list[float]) -> Column:
    return F.array([F.lit(float(x)) for x in query_vec])


def round6_half_up(x):
    """6-dp HALF-AWAY-FROM-ZERO rounding for numpy arrays — the ONE
    rounding rule all three engine surfaces share: Spark ``F.round``
    and DuckDB ``ROUND`` both round halves away from zero, while
    ``np.round`` is banker's (half-to-even), so a kernel using
    ``np.round`` could flip a threshold pair or a top-k tie landing
    exactly on a .5 boundary at 6 dp and silently crack the
    engine-exact-replay invariant. Sign-aware scaled floor keeps the
    negative-cosine range correct."""
    import numpy as np

    return np.copysign(np.floor(np.abs(x) * 1e6 + 0.5) / 1e6, x)


def cosine_topk(
    df: DataFrame, vec_col: str, id_col: str, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Exact top-k by cosine to a query vector (ties broken by id)."""
    q = _qvec(query_vec)
    v = as_double(vec_col)
    scored = df.select(F.col(id_col), F.round(cosine(v, q), 6).alias("cosine"))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    cell_col: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-style probed search: mean-vector centroid per cell →
    ``nprobe`` closest cells by cosine → exact top-k inside them.

    Centroids via ``posexplode`` + groupBy(cell, pos) + partial avg —
    one small shuffle (cells × dims rows); the probe set is a tiny
    broadcast semi-join against the full table."""
    q = _qvec(query_vec)
    exploded = df.select(F.col(cell_col).alias("_cell"), F.posexplode(as_double(vec_col)).alias("_pos", "_x"))
    centroids = (
        exploded.groupBy("_cell", "_pos")
        .agg(F.avg("_x").alias("_cx"))
        .groupBy("_cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_cx"))), lambda s: s.getField("_cx")
            ).alias("_centroid")
        )
    )
    probes = (
        centroids.select("_cell", F.round(cosine(F.col("_centroid"), q), 6).alias("_ccos"))
        .orderBy(F.col("_ccos").desc(), F.col("_cell"))
        .limit(nprobe)
        .select("_cell")
    )
    in_cells = df.join(
        F.broadcast(probes), df[cell_col] == probes["_cell"], "left_semi"
    )
    v = as_double(vec_col)
    return (
        in_cells.select(F.col(id_col), F.col(cell_col), F.round(cosine(v, q), 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_topk_batch(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    probes: DataFrame,
    probe_id_col: str,
    probe_vec_col: str,
    k: int = 10,
    fanout: int = 16,
    exclude_same_id: bool = False,
) -> DataFrame:
    """(probe_id, id, cosine) — exact top-k neighbors for EVERY probe
    in one corpus pass. ``cosine_topk`` launches one TakeOrdered job
    per query; a retrieval batch (dozens-thousands of probes) wants
    the corpus scanned ONCE with all probes scored per row.

    ``exclude_same_id=True`` drops the probe's own corpus row (matched
    by id) BEFORE the top-k cut, so every probe gets exactly k foreign
    neighbors — the self-audit shape. A post-cut ``probe_id != id``
    filter is NOT equivalent: with duplicate vectors tied at cosine
    1.0 the (cosine desc, id asc) tiebreak can push the self row out
    of a top-(k+1) fetch and leave k+1 survivors.

    A probe or corpus row whose vector is NULL or has zero norm has no
    cosine: it is dropped before scoring.

    Scale shape: the probe batch is pulled to the driver ONCE (small
    by contract — a query batch, not a corpus; a 512 MB guard raises
    with advice before an oversized pull) and ships to executors as a
    broadcast numpy matrix. The corpus is scanned with
    ``mapInPandas``: each Arrow batch scores probes x batch with
    :func:`_cosine_blocks` (numpy, rounded, row blocks <= 64 MB) and
    emits only its per-probe partial top-k — exact, because every
    global top-k row is in its own batch's top-k. The partial
    rows are skinny (probe_id, id, cosine), and the global per-probe
    cut is ``topk.top_k_per_group`` — the two-phase skew-proof rank,
    so even with one probe no single task sorts every candidate.
    Result is EXACTLY per-probe top-k under (cosine desc, id asc)."""
    return _scatter_topk(
        df, vec_col, id_col, probes, probe_id_col, probe_vec_col, k, fanout,
        exclude_same_id,
    )


def _scatter_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    probes: DataFrame,
    probe_id_col: str,
    probe_vec_col: str,
    k: int,
    fanout: int,
    exclude_same_id: bool,
    carry: tuple[str, str] | None = None,
) -> DataFrame:
    """The kernel of :func:`cosine_topk_batch`: per-probe top-k rows
    ``(probe_id, id, cosine)``. ``carry=(probe_col, corpus_col)`` adds
    a probe-side column, pulled with the probe vectors, after
    ``probe_id`` and a corpus-side column after ``id``, so a caller
    needs no join to bring them back."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    from .topk import top_k_per_group

    p_extra, c_extra = ([carry[0]], [carry[1]]) if carry else ([], [])
    pr, pmat, pnorm = _scorable_rows(
        probes.select(
            F.col(probe_id_col).alias("probe_id"),
            as_double(probe_vec_col).alias("_v"),
            *p_extra,
        ).toPandas()
    )
    if pmat.size * 8 > _PROBE_PULL_CAP_BYTES:
        raise ValueError(
            f"probe batch ({pmat.shape[0]} x {pmat.shape[1]} doubles) "
            "exceeds the 512 MB scatter cap - audit a sample, or bucket "
            "with knn_label_agreement_lsh at corpus scale"
        )
    pids = pr["probe_id"].to_numpy()
    pvals = [pr[c].to_numpy() for c in p_extra]
    bc = df.sparkSession.sparkContext.broadcast((pids, pvals, pmat, pnorm))
    # output types DERIVE from the input schemas (a hardcoded `long`
    # here silently broke every caller with string ids)
    fields = [
        StructField("probe_id", probes.schema[probe_id_col].dataType),
        *[StructField(c, probes.schema[c].dataType) for c in p_extra],
        StructField(id_col, df.schema[id_col].dataType),
        *[StructField(c, df.schema[c].dataType) for c in c_extra],
        StructField("cosine", DoubleType()),
    ]

    block_bytes = _KERNEL_BLOCK_BYTES  # bind by value: closure ships to executors

    def gen(batches):
        b_pids, b_pvals, b_pmat, b_pnorm = bc.value
        for pdf in batches:
            pdf, v, vnorm = _scorable_rows(pdf)
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            cvals = [pdf[c].to_numpy() for c in c_extra]
            out = {f.name: [] for f in fields}
            for s, blk in _cosine_blocks(b_pmat, b_pnorm, v, vnorm, block_bytes):
                if exclude_same_id:
                    blk[b_pids[s : s + len(blk), None] == ids[None, :]] = -np.inf
                for qi, row in enumerate(blk, s):
                    sel = _top_k(row, ids, k)
                    out["probe_id"].extend([b_pids[qi]] * len(sel))
                    out[id_col].extend(ids[sel].tolist())
                    out["cosine"].extend(row[sel].tolist())
                    for c, vals in zip(p_extra, b_pvals):
                        out[c].extend([vals[qi]] * len(sel))
                    for c, vals in zip(c_extra, cvals):
                        out[c].extend(vals[sel].tolist())
            yield pd.DataFrame(out)

    src = df.select(F.col(id_col), as_double(vec_col).alias("_v"), *c_extra)
    scored = src.mapInPandas(gen, StructType(fields))
    return top_k_per_group(
        scored, "probe_id", [F.col("cosine").desc()], id_col, k, fanout
    )


_PROBE_PULL_CAP_BYTES = 512 * 1024 * 1024

# the budget of one :func:`_cosine_blocks` block. Module-level so tests
# can shrink it and drive the multi-block path on small corpora; a
# kernel binds it by value before its closure ships to executors.
_KERNEL_BLOCK_BYTES = 64 * 1024 * 1024


def _cosine_blocks(qv, qn, cv, cn, block_bytes: int):
    """Yield ``(start, block)``: the cosines of query rows
    ``[start, start + len(block))`` against every candidate row, as
    ``(qv @ cv.T) / outer(qn, cn)`` in float64 rounded with
    :func:`round6_half_up`, so a threshold or a top-k tie sees the
    value Spark ``F.round`` and DuckDB ``ROUND`` give. ``qn``/``cn``
    are the row norms :func:`_scorable_rows` returns.

    The one cosine kernel of the vector functions. A numpy kernel
    rather than an expression plan because Spark's higher-order array
    functions evaluate interpreted, outside whole-stage codegen (~17 µs
    per 64-dim cosine, ~7× the wall time for the same pairs).

    Skew guard: a block holds at most ``block_bytes`` of float64 (and
    at least one query row), so a degenerate bucket (mass-duplicate
    vectors hashing together) costs quadratic TIME but never a
    quadratic allocation in one task. Each query row's cosines lie in
    one block, so per-row pair and top-k rules are exact."""
    import numpy as np

    step = max(1, block_bytes // (max(len(cn), 1) * 8))
    for s in range(0, len(qn), step):
        yield s, round6_half_up((qv[s : s + step] @ cv.T) / np.outer(qn[s : s + step], cn))


def _pairs_above(pid, pv, pn, hid, hv, hn, threshold: float, block_bytes: int):
    """The ``(id_a, id_b, cosine)`` frame of the probe × home pairs
    with ``pid < hid`` (compared by id, so a duplicated id pairs with
    nothing of its own id) and rounded ``cosine >= threshold``."""
    import numpy as np
    import pandas as pd

    out = []
    for s, blk in _cosine_blocks(pv, pn, hv, hn, block_bytes):
        ia, ib = np.nonzero((blk >= threshold) & (pid[s : s + len(blk), None] < hid[None, :]))
        out.append((pid[ia + s], hid[ib], blk[ia, ib]))
    if not out:  # no probe rows: object ids take any id type
        out = [(np.empty(0, object), np.empty(0, object), np.empty(0))]
    cols = [np.concatenate(c) for c in zip(*out)]
    return pd.DataFrame(dict(zip(("id_a", "id_b", "cosine"), cols)))


def _top_k(row, ids, k: int):
    """Indices of the ``k`` best finite entries of ``row`` under
    (cosine desc, id asc). A caller masks the entries it excludes to
    ``-inf`` first."""
    import numpy as np

    sel = np.lexsort((ids, -row))[:k]
    return sel[np.isfinite(row[sel])]


def _scorable_rows(pdf: "pd.DataFrame"):
    """``(rows, matrix, norms)``: the rows of ``pdf`` whose ``_v``
    vector has a cosine, those vectors as a float64 matrix, and the
    matrix's row norms. A NULL or zero-norm vector has no cosine, so
    every kernel drops it here, before scoring."""
    import numpy as np

    pdf = pdf[pdf["_v"].notna()]
    v = (
        np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        if len(pdf)
        else np.zeros((0, 0))
    )
    norms = np.sqrt((v * v).sum(axis=1))
    keep = norms > 0
    return pdf[keep], v[keep], norms[keep]


def hard_negatives(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    query_vec: list[float],
    query_label,
    k: int = 10,
) -> DataFrame:
    """Top-k HARD NEGATIVES for an anchor: the most cosine-similar
    vectors whose label differs from the anchor's — the contrastive-
    training mining step (similar-but-wrong examples teach the sharpest
    decision boundaries; random negatives are too easy to move the
    loss).

    Same scale shape as :func:`cosine_topk`: the label test is a
    map-local filter fused into the scan, scoring is codegen'd
    ``zip_with``/``aggregate``, and sort+limit compiles to
    TakeOrderedAndProject — per-partition k-heaps, no global sort, the
    corpus never shuffles. Mining negatives for a BATCH of anchors is
    this expression per anchor over one shared scan (or IVF-probed via
    ``ivf_topk``'s cell filter when the anchor count is large)."""
    q = _qvec(query_vec)
    v = as_double(vec_col)
    scored = df.filter(F.col(label_col) != F.lit(query_label)).select(
        F.col(id_col),
        F.col(label_col),
        F.round(cosine(v, q), 6).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def _rp_signs(out_dim: int, dims: int, seed: int) -> list[list[int]]:
    """Deterministic ±1 sign matrix for random projection, derived from
    the engine-portable md5 convention (``text.hash64``) so a SQL
    oracle regenerates the identical matrix: sign[j][i] = +1 iff
    md5('rp{seed}:{j}:{i}')'s 60-bit prefix is even."""
    import hashlib

    signs = []
    for j in range(out_dim):
        row = []
        for i in range(dims):
            h = int(
                hashlib.md5(f"rp{seed}:{j}:{i}".encode()).hexdigest()[:15], 16
            )
            row.append(1 if h % 2 == 0 else -1)
        signs.append(row)
    return signs


def random_projection(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    out_dim: int = 8,
    dims: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """(id, rp0..rp{out_dim-1}) — Johnson-Lindenstrauss dimensionality
    reduction with a dense ±1/√d' sign matrix (Achlioptas 2003: the
    ±1 database-friendly projection preserves pairwise distances within
    (1±ε) like the Gaussian one). The embedding shrink step before
    clustering / dedup / visualization at corpus scale.

    The matrix is a PLAN-TIME literal (seeded md5 signs — no driver
    action, no broadcast join, reproducible in a SQL oracle), so each
    output dim is one ``zip_with``+``aggregate`` over the row's vector:
    entirely map-local inside whole-stage codegen, zero shuffle — at
    100 TB this runs at scan rate and writes out_dim/dims of the bytes.
    ``dims`` is required, like :func:`lsh_bucket_col` (inferring it
    would need a driver-side action at plan time). Values are rounded
    to 6 decimals (engine-portability convention)."""
    if dims is None:
        raise ValueError(
            "random_projection needs dims= (embedding dimensionality); inferring "
            "it would require a driver-side .first() action during plan construction"
        )
    if out_dim <= 0:
        raise ValueError(f"out_dim must be positive, got {out_dim}")
    import math

    inv = 1.0 / math.sqrt(out_dim)
    v = as_double(vec_col)
    cols = []
    for j, row in enumerate(_rp_signs(out_dim, dims, seed)):
        s = F.array([F.lit(float(x)) for x in row])
        cols.append(F.round(_dot(v, s) * F.lit(inv), 6).alias(f"rp{j}"))
    return df.select(F.col(id_col), *cols)


def quantize_embeddings(
    df: DataFrame, vec_col: str, id_col: str, bits: int = 8
) -> DataFrame:
    """(id, qvec) — symmetric per-dimension integer quantization: each
    dimension scaled by its corpus-wide max |x| into [-(2^(bits-1)-1),
    2^(bits-1)-1]. The standard ANN memory lever: int8 cuts embedding
    bytes 4× (and SIMD dot products speed up accordingly) at ~0.1%
    recall cost.

    Scale shape mirrors ``quantile_band``: the corpus reduces to ONE
    row of per-dim scales (posexplode → max-abs partial agg — dims
    rows shuffle, not vectors), broadcast back as a nested-loop over
    one row, then the quantization is a map-local ``zip_with``. The
    100 TB table itself never shuffles.

    Rounding is ``floor(x·q/m + 0.5)`` rather than round() so an
    external SQL oracle reproduces every value bit-for-bit (same IEEE
    op order; round() half-even/half-up conventions differ across
    engines). All-zero dimensions quantize to 0."""
    qmax = (1 << (bits - 1)) - 1
    v = as_double(vec_col)
    scales = (
        df.select(F.posexplode(v).alias("_pos", "_x"))
        .groupBy("_pos")
        .agg(F.max(F.abs(F.col("_x"))).alias("_m"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_m"))),
                lambda s: s.getField("_m"),
            ).alias("_scales")
        )
    )
    qcell = lambda x, m: (  # noqa: E731
        F.when(m == 0, F.lit(0))
        .otherwise(F.floor(x * F.lit(qmax) / m + F.lit(0.5)))
        .cast("int")
    )
    return (
        df.join(F.broadcast(scales))
        .select(F.col(id_col), F.zip_with(v, F.col("_scales"), qcell).alias("qvec"))
    )


def _planes(n_planes: int, dims: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG — reproducible
    everywhere, including in a SQL oracle)."""
    out, state = [], seed
    for _ in range(n_planes):
        row = []
        for _ in range(dims):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 33) / float(1 << 31)) - 1.0)
        out.append(row)
    return out


def lsh_bucket_col(
    vec_col: Column | str, n_planes: int = 8, dims: int | None = None, seed: int = 42
) -> Column:
    """Random-hyperplane sign signature as an int column expression.

    Map-side only (the hyperplanes are plan-time literals), so callers
    can attach a bucket to any DataFrame without a join or shuffle.

    ``dims`` is required — plan construction must not run a driver-side
    action to infer it."""
    if dims is None:
        raise ValueError(
            "lsh bucketing needs dims= (embedding dimensionality); inferring it "
            "would require a driver-side .first() action during plan construction"
        )
    v = as_double(vec_col)
    bucket = None
    for i, plane in enumerate(_planes(n_planes, dims, seed)):
        p = F.array([F.lit(x) for x in plane])
        bit = F.when(_dot(v, p) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("long")


def adaptive_n_planes(
    n_rows: int, target_bucket_rows: int = 4096, lo: int = 4, hi: int = 24
) -> int:
    """Plane count sized so the EXPECTED bucket holds about
    ``target_bucket_rows`` rows: ceil(log2(n / target)), clamped.

    This is the fix for a fixed-plane default at scale: with p planes
    there are 2^p buckets, and the within-bucket exact-cosine join is
    quadratic in bucket size — a constant p means bucket size (and the
    join) grows linearly with the corpus. Sizing p from N keeps the
    per-bucket work constant as the table grows; each added plane
    costs one dot product per row, so the map-side price of 100 TB
    worth of buckets is ~24 dots/row. Hyperplane buckets are not
    perfectly uniform (correlated embeddings concentrate), so treat
    ``target_bucket_rows`` as an expectation, not a bound — AQE skew
    splitting handles the heavy buckets."""
    import math

    if n_rows <= 0:
        return lo
    need = math.ceil(math.log2(max(1.0, n_rows / float(target_bucket_rows))))
    return max(lo, min(hi, need))


def lsh_probe_buckets(
    bucket: Column | str, n_planes: int, hamming: int = 1
) -> Column:
    """Array of probe buckets within ``hamming`` bit-flips of
    ``bucket`` — the multiprobe expansion (probe the neighboring
    buckets a borderline vector could have landed in).

    Only radius 0 and 1 are supported: radius-1 already costs a
    ``n_planes + 1``× row expansion on the probing side, and radius-2
    (O(p²) probes) is past the point where adding planes + radius-1
    dominates. Pure expression — callers ``explode`` it and equi-join
    against exact buckets."""
    if hamming not in (0, 1):
        raise ValueError(f"hamming must be 0 or 1, got {hamming}")
    b = F.col(bucket) if isinstance(bucket, str) else bucket
    if hamming == 0:
        return F.array(b)
    return F.array(b, *[b.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)])


def lsh_buckets(
    df: DataFrame, vec_col: str, id_col: str, n_planes: int = 8, dims: int | None = None, seed: int = 42
) -> DataFrame:
    """(id, bucket) — random-hyperplane sign signature as an int key.

    Rows with equal buckets are ANN candidates; join on the bucket for
    candidate pairs. nprobe-style recall: also join on buckets at
    hamming distance 1 (flip each bit)."""
    return df.select(
        F.col(id_col), lsh_bucket_col(vec_col, n_planes, dims, seed).alias("bucket")
    )


def ivf_write_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    index_dir: str,
    cells: int = 16,
    max_iter: int = 4,
) -> list[list[float]]:
    """Build and PERSIST an IVF index: k-means centroids
    (``<index_dir>/centroids``, cells x dims — tiny) plus the corpus
    with vectors, hive-partitioned by cell
    (``<index_dir>/assignments/_cell=N/``). Returns the centroids.

    This is the index *lifecycle* the one-shot :func:`ivf_topk`
    skips: build once, then every later search reads ONLY the probed
    cells' directories — partition pruning turns search cost into
    ``nprobe / cells`` of the corpus, the on-disk analogue of an IVF
    inverted list. At 100 TB the assignment write is one map-side
    pass (cell = plan-literal nearest-centroid expression) plus the
    partitioned write's shuffle; no further index maintenance."""
    from .clustering import assign_cells, kmeans_fit

    centroids = kmeans_fit(df, vec_col, id_col, k=cells, max_iter=max_iter)
    assigned = assign_cells(df, vec_col, centroids, cell_col="_cell")
    assigned.write.mode("overwrite").partitionBy("_cell").parquet(
        f"{index_dir}/assignments"
    )
    cdf = df.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], "_cell int, _centroid array<double>"
    )
    cdf.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    return centroids


def ivf_search_index(
    spark,
    index_dir: str,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Search a persisted IVF index: rank the stored centroids against
    the query (a cells-row read — driver-bounded by construction, the
    same bounded fan-in as k-means itself), then scan ONLY the
    ``nprobe`` nearest cells via a partition-pruning ``isin`` filter
    and take the exact cosine top-k inside them.

    The pruned read is the point: ``.explain`` shows
    ``PartitionFilters: [_cell IN (...)]`` and untouched cell
    directories are never opened."""
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    q = _qvec(query_vec)
    cdf = read_parquet(spark, f"{index_dir}/centroids")
    best = (
        cdf.select("_cell", F.round(cosine(F.col("_centroid"), q), 6).alias("_c"))
        .orderBy(F.col("_c").desc(), F.col("_cell"))
        .limit(nprobe)
        .collect()
    )
    probe_cells = [r["_cell"] for r in best]
    scan = read_parquet(spark, f"{index_dir}/assignments").filter(
        F.col("_cell").isin(probe_cells)
    )
    v = as_double(vec_col)
    return (
        scan.select(
            F.col(id_col), F.col("_cell"), F.round(cosine(v, q), 6).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def centroid_outliers(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    group_col: str,
    threshold: float = 0.2,
) -> DataFrame:
    """Embedding-space outlier pruning: each vector's cosine to its own
    GROUP CENTROID (mean vector of its label / k-means cell / domain);
    rows below ``threshold`` are the candidates to drop — off-manifold
    noise, mislabeled shards, encoder failures. The cheap sanity screen
    run after embedding a corpus and before ANN indexing.

    Returns ``(id, group, cos_centroid)`` for flagged rows only,
    ``cos_centroid`` rounded to 6.

    Scale shape: centroids come from ONE posexplode + map-side-combined
    avg — the shuffle carries ``groups x dims`` partial rows, never
    vectors — re-packed to one array row per group and broadcast back;
    the cosine is then a map-local zip_with per row. No self-join, no
    vector shuffle: the corpus is read once at scan rate."""
    v = as_double(vec_col)
    dims = df.select(
        F.col(id_col),
        F.col(group_col).alias("_grp"),
        F.posexplode(v).alias("_i", "_x"),
    )
    cent = (
        dims.groupBy("_grp", "_i")
        .agg(F.avg("_x").alias("_c"))
        .groupBy("_grp")
        .agg(
            F.array_sort(F.collect_list(F.struct("_i", "_c"))).alias("_ord")
        )
        .select(
            "_grp", F.transform("_ord", lambda s: s["_c"]).alias("_cent")
        )
    )
    base = df.select(
        F.col(id_col), F.col(group_col).alias("_grp"), v.alias("_v")
    )
    cos = F.round(
        _dot(F.col("_v"), F.col("_cent"))
        / (_norm(F.col("_v")) * _norm(F.col("_cent"))),
        6,
    )
    return (
        base.join(F.broadcast(cent), "_grp")
        .withColumn("cos_centroid", cos)
        .filter(F.col("cos_centroid") < threshold)
        .select(
            F.col(id_col),
            F.col("_grp").alias(group_col),
            "cos_centroid",
        )
    )


def pq_train(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 8,
    k: int = 16,
    max_iter: int = 5,
) -> list[list[list[float]]]:
    """Train a product-quantization codebook (Jégou et al. 2011,
    public — the workhorse of billion-scale ANN): split the vector
    into ``m`` contiguous subspaces and k-means each independently →
    ``codebooks[s]`` = ``k`` centroids of ``dims/m`` floats. Driver
    state is ``m*k*dims/m = k*dims`` doubles — constant in the table
    size; training runs ``m`` independent Lloyd's loops over the
    SLICED column (each iteration one aggregation, same machinery as
    :func:`~bytewax_spark.functions.clustering.kmeans_fit`)."""
    from .clustering import kmeans_fit

    dims = len(df.select(F.col(vec_col)).first()[0])
    if dims % m != 0:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    d = dims // m
    books: list[list[list[float]]] = []
    for s in range(m):
        sub = df.select(
            F.col(id_col), F.slice(as_double(vec_col), s * d + 1, d).alias("_sub")
        )
        books.append(kmeans_fit(sub, "_sub", id_col, k=k, max_iter=max_iter))
    return books


def pq_encode(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    codebooks: list[list[list[float]]],
    out_col: str = "codes",
) -> DataFrame:
    """Compress vectors to ``m`` small ints → ``(id_col, out_col:
    array<int>)``: per subspace, the index of the nearest codebook
    centroid (squared L2, lowest index ties). A 64-dim float vector
    becomes 8 bytes at m=8/k<=256 — the 100 TB move: the code table
    is ~32x smaller than the vectors, small enough to keep hot.
    Map-side literal expressions only; nothing shuffles."""
    from .clustering import _dist2

    m = len(codebooks)
    d = len(codebooks[0][0])
    v = as_double(vec_col)
    codes = []
    for s in range(m):
        sub = F.slice(v, s * d + 1, d)
        scored = F.array(
            [
                F.struct(_dist2(sub, c).alias("d"), F.lit(i).alias("i"))
                for i, c in enumerate(codebooks[s])
            ]
        )
        codes.append(F.array_min(scored).getField("i"))
    return df.select(F.col(id_col), F.array(*codes).alias(out_col))


def pq_adc_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes → ``(id_col,
    adc_dist2)`` ascending: the query stays full-precision, each
    subspace contributes a PRECOMPUTED distance from a lookup table
    ``lut[s][c] = ||q_s - codebook[s][c]||²`` (m*k driver floats,
    frozen as plan literals), so scoring a row is ``m`` array lookups
    + adds — no vector arithmetic per row, the reason PQ search is
    memory-bandwidth-bound, not FLOP-bound. TakeOrdered(k) ends the
    plan: no global sort."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    if len(query_vec) != m * d:
        raise ValueError(
            f"query dims {len(query_vec)} != codebook dims {m * d}"
        )
    luts = []
    for s in range(m):
        qs = [float(x) for x in query_vec[s * d : (s + 1) * d]]
        luts.append(
            [
                sum((a - b) ** 2 for a, b in zip(qs, c))
                for c in codebooks[s]
            ]
        )
    dist = None
    for s in range(m):
        lut = F.array([F.lit(x) for x in luts[s]])
        term = F.element_at(lut, F.element_at(F.col(codes_col), s + 1) + 1)
        dist = term if dist is None else dist + term
    return (
        codes.select(F.col(id_col), F.round(dist, 6).alias("adc_dist2"))
        .orderBy(F.col("adc_dist2").asc(), F.col(id_col))
        .limit(k)
    )


def knn_label_agreement(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 10,
    probes: DataFrame | None = None,
) -> DataFrame:
    """Label-noise screen by neighborhood consensus (the core signal
    of confident-learning/kNN-agreement dataset QA, Northcutt 2021
    family): for every vector, the share of its k nearest neighbors
    (cosine, self excluded) that carry the SAME label — rows with low
    agreement are the mislabeled-sample candidates. Returns
    ``(id, label, n_nbrs, n_same, agree_ppm)`` with ``agree_ppm`` an
    exact integer. A NULL label agrees with no label, NULL included:
    a probe whose label is NULL has ``n_same = 0``.

    Built on ``cosine_topk_batch``'s kernel (corpus scanned once,
    probes broadcast, two-phase per-probe top-k): exact brute force —
    right for query batches and QA samples; at corpus scale bucket with
    ``lsh_buckets``/``ivf_topk`` first and run the agreement inside
    cells. The labels ride the kernel: the probe labels are pulled with
    the probe vectors, each neighbour's label leaves its scan batch with
    its partial top-k row, and one ``groupBy`` over the cut rows counts
    the agreements — no join brings a label back. Pulling the probes is
    the one Spark job that runs while the flow is built, and it stays:
    the broadcast probe matrix is the algorithm. ``probes`` restricts
    the audit to a subset (same schema as ``df``) — the usual QA shape,
    since brute force is inherently probes × corpus; default audits
    every row."""
    if probes is None:
        probes = df
    nn = _scatter_topk(
        df.select(id_col, vec_col, F.col(label_col).alias("_nlab")),
        vec_col,
        id_col,
        probes.select(
            F.col(id_col).alias("_pid"),
            F.col(vec_col).alias("_pv"),
            F.col(label_col).alias("_plab"),
        ),
        "_pid",
        "_pv",
        k,
        fanout=16,
        exclude_same_id=True,
        carry=("_plab", "_nlab"),
    )
    same = F.when(F.col("_nlab") == F.col("_plab"), 1).otherwise(0)
    return (
        nn.groupBy(F.col("probe_id").alias(id_col), F.col("_plab").alias(label_col))
        .agg(
            F.count(F.lit(1)).alias("n_nbrs"),
            F.sum(same).cast("long").alias("n_same"),
        )
        .withColumn(
            "agree_ppm", F.expr("(n_same * 1000000L) div n_nbrs")
        )
    )


def knn_label_agreement_lsh(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 10,
    n_planes: int = 8,
    dims: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Corpus-scale kNN label-noise screen — the LSH-bucketed path the
    brute-force :func:`knn_label_agreement` docstring mandates at
    scale: every row is audited against its k nearest neighbors
    WITHIN its random-hyperplane bucket (:func:`lsh_bucket_col` — the
    planes are plan literals, so bucketing is one map-side pass).
    Returns the same ``(id, label, n_nbrs, n_same, agree_ppm)`` shape.

    Approximate by design: neighbors on the far side of a hyperplane
    are unseen, and a bucket smaller than k+1 yields n_nbrs < k
    (singleton-bucket rows emit no row at all — no neighbors, no
    verdict). Size ``n_planes`` with :func:`adaptive_n_planes` so
    expected bucket size stays constant as the corpus grows. A row
    whose vector is NULL or has zero norm has no cosine: it is dropped
    before scoring, so it is neither audited nor anyone's neighbor.
    A NULL label is audited and counted as a neighbor, but it agrees
    with no label, NULL included (SQL ``=``).

    Scale shape: ONE shuffle on the bucket key (never a broadcast
    nested loop over the corpus) into one ``applyInPandas`` kernel per
    bucket — the bucket's vectors arrive once, :func:`_cosine_blocks`
    scores them (numpy, rounded, row blocks <= 64 MB), each row's own
    cosine is masked and the rest cut by (rounded cosine desc, id
    asc), and only the 5-column verdict rows come back. An external
    SQL oracle reproduces the selection exactly. Per-bucket cost is
    quadratic in bucket size — bounded by plane count; size planes so
    buckets stay O(100-1000) rows."""
    import numpy as np
    import pandas as pd

    id_dt = df.schema[id_col].dataType.simpleString()
    label_dt = df.schema[label_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_dt}, {label_col} {label_dt}, "
        "n_nbrs long, n_same long, agree_ppm long"
    )
    cols = [id_col, label_col, "n_nbrs", "n_same", "agree_ppm"]
    block_bytes = _KERNEL_BLOCK_BYTES  # bind by value: closure ships to executors

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf, v, norms = _scorable_rows(pdf)
        if len(pdf) < 2:
            return pd.DataFrame({c: pd.Series(dtype="object") for c in cols})
        ids = pdf[id_col].to_numpy()
        labs = pdf[label_col].to_numpy()
        # SQL equality: a NULL label agrees with nothing (numpy's
        # object == counts None == None)
        known = pd.notna(labs)
        rows = []
        for s, blk in _cosine_blocks(v, norms, v, norms, block_bytes):
            for i, c in enumerate(blk, s):
                c[i] = -np.inf  # self excluded before the cut
                sel = _top_k(c, ids, k)
                nn = len(sel)
                ns = int(((labs[sel] == labs[i]) & known[sel]).sum()) if known[i] else 0
                rows.append((ids[i], labs[i], nn, ns, ns * 1_000_000 // nn))
        return pd.DataFrame(rows, columns=cols)

    b = df.select(
        F.col(id_col),
        F.col(label_col),
        as_double(vec_col).alias("_v"),
        lsh_bucket_col(vec_col, n_planes, dims, seed).alias("_b"),
    )
    # pin the kernel stage's fan-out (see dedup.embedding_cosine_pairs:
    # AQE coalesces the small bucket shuffle; per-task cost is
    # quadratic per bucket, so coalescing serializes the kernels); the
    # explicit-count HashPartitioning satisfies applyInPandas'
    # clustering requirement — no extra exchange.
    return b.repartition(_shuffle_partitions(df), "_b").groupBy("_b").applyInPandas(kernel, schema)


# binary-gain DCG weights, micro-quantized per rank (1-based):
# w_i = round(1e6 / log2(i + 1)) — frozen literals so Spark and any
# oracle replay identical integers
DCG_W_MICRO = [round(1_000_000 / math.log2(i + 1)) for i in range(1, 101)]


def ranking_eval(
    truth: DataFrame,
    approx: DataFrame,
    probe_col: str = "probe_id",
    id_col: str = "id",
    rank_col: str = "rank",
    k: int = 10,
) -> DataFrame:
    """Grade an approximate ranking against the exact one — the ANN /
    compression quality gate: per probe, recall@k (overlap of the two
    top-k sets) and STANDARD binary-gain nDCG@k (hits discounted by
    the APPROX rank they landed at, normalized by the FULL ideal
    prefix IDCG@k — so a probe that retrieves 1 of k truth items at
    rank 1 scores w_1/IDCG@k, not 1.0), both exact integer ppm built
    from the frozen ``DCG_W_MICRO`` literals — engine-replayable, no
    float logs at eval time. Returns ONE row
    ``(n_queries, k, mean_recall_ppm, mean_ndcg_ppm)``.

    Inputs are two (probe, id, rank<=k) frames (build with
    ``cosine_topk_batch`` + row_number). One equi-join on (probe, id)
    + two tiny aggregations — the eval costs a join of two rank
    tables, never a corpus scan."""
    if not 1 <= k <= len(DCG_W_MICRO):
        raise ValueError(f"k must be in [1, {len(DCG_W_MICRO)}], got {k}")
    w_arr = F.array(*[F.lit(w) for w in DCG_W_MICRO[:k]])
    # full ideal prefix at k — truth always carries k relevant items
    # here (both inputs are top-k lists), so IDCG@k is one constant
    idcg_k = sum(DCG_W_MICRO[:k])
    t = truth.select(
        F.col(probe_col).alias("_p"), F.col(id_col).alias("_i")
    )
    a = approx.select(
        F.col(probe_col).alias("_p"),
        F.col(id_col).alias("_i"),
        F.col(rank_col).alias("_r"),
    )
    hits = t.join(a, ["_p", "_i"]).select(
        "_p", F.element_at(w_arr, F.col("_r").cast("int")).alias("_w")
    )
    per_probe = (
        t.select("_p").distinct()
        .join(
            hits.groupBy("_p").agg(
                F.count(F.lit(1)).alias("_h"), F.sum("_w").alias("_dcg")
            ),
            "_p",
            "left",
        )
        .select(
            "_p",
            F.coalesce("_h", F.lit(0)).alias("_h"),
            F.coalesce("_dcg", F.lit(0)).alias("_dcg"),
        )
        .select(
            "_p",
            F.expr(f"(_h * 1000000L) div {k}").alias("_rec"),
            F.expr(f"(_dcg * 1000000L) div {idcg_k}").alias("_ndcg"),
        )
    )
    return per_probe.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.lit(k).cast("int").alias("k"),
        F.expr("CAST(SUM(_rec) div COUNT(1) AS LONG)").alias(
            "mean_recall_ppm"
        ),
        F.expr("CAST(SUM(_ndcg) div COUNT(1) AS LONG)").alias(
            "mean_ndcg_ppm"
        ),
    )
