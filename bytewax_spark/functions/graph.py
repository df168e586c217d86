"""Distributed graph helpers for dedup clustering.

``connected_components`` turns the candidate-pair output of the LSH
family (``dedup.minhash_lsh_pairs``, ``dedup.lsh_cosine_pairs``) into
dedup *clusters*: every document gets the minimum doc id reachable
through the pair graph, so "keep one per cluster" is a single
``filter(doc_id == cluster_id)`` afterwards. This is the step a
training-data pipeline actually wants from near-dup detection — the
pair list is an intermediate, the cluster assignment is the product.

Spark-first design: min-label propagation (the dataflow form of
hash-to-min, the same primitive GraphX/Pregel connected components is
built on). Each round is one shuffle-on-key aggregation:

    label(v) <- min(label(v), min over neighbors u of label(u))

which converges in O(graph diameter) rounds. Near-dup graphs are
dense blobs of duplicates with tiny diameter (2-4 rounds in
practice), so the round count stays flat as data grows — the 100 TB
cost is per-round shuffle volume, which is |E| ids, not documents.
The driver-side loop is inherent to iterative fixpoints (same as any
Pregel superstep loop); each iteration checkpoints eagerly
(``_materialize.materialize``) to truncate lineage so the plan doesn't
grow with the round count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from bytewax_spark.functions._materialize import materialize
from bytewax_spark.io import _shuffle_partitions

__all__ = [
    "adamic_adar",
    "common_neighbors",
    "clustering_coefficient",
    "degree_powerlaw",
    "connected_components",
    "hits",
    "kcore",
    "label_propagation",
    "modularity",
    "neardup_clusters",
    "pagerank",
    "triangle_counts",
]


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """``(u, v)`` with ``u < v`` per edge: direction ignored, self-loops
    dropped, duplicates kept."""
    return edges.select(
        F.least(F.col(src), F.col(dst)).alias("u"),
        F.greatest(F.col(src), F.col(dst)).alias("v"),
    ).filter(F.col("u") != F.col("v"))


def _endpoints(df: DataFrame, a: str, b: str, name: str = "node") -> DataFrame:
    """Columns ``a`` and ``b`` of ``df`` stacked into one column ``name``."""
    return df.select(F.col(a).alias(name)).union(df.select(F.col(b).alias(name)))


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    init_labels: DataFrame | None = None,
) -> DataFrame:
    """(node, component) for every node in ``edges``; ``component`` is
    the minimum node id in the connected component (deterministic —
    independent of partitioning and execution order).

    ``init_labels`` (columns ``node``, ``comp``) optionally seeds the
    propagation with a better-than-identity upper bound — any labeling
    where each node's label is the id of SOME node in its own
    component (e.g. the min over an LSH bucket) is valid and saves the
    rounds identity seeding would spend rediscovering it. Must cover
    every node that appears in ``edges``.

    Raises after ``max_iter`` non-converged rounds rather than
    returning a partial labeling: a chain graph of diameter > max_iter
    is not a near-dup workload, and silent wrong clusters are worse
    than a loud failure.
    """
    # no distinct on the symmetrized edges: the two union branches
    # cannot overlap (one has a<b, the other a>b for pair inputs) and
    # duplicate edges can't change a min aggregate — deduping here
    # would be a full |E| shuffle bought for nothing. Callers passing
    # heavily duplicated edge lists pay only a fatter propagation join.
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    if init_labels is None:
        labels = (
            sym.select(F.col("a").alias("node"))
            .distinct()
            .withColumn("comp", F.col("node"))
        )
    else:
        labels = init_labels.select("node", "comp")
    labels = materialize(labels, "round-0 labels of the fixpoint loop", eager=True)
    sym = materialize(sym, "edge list read by every round", eager=True)
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["a"] == labels["node"])
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("comp").alias("nbr_min"))
        )
        new_labels = materialize(
            labels.join(nbr_min, "node", "left").select(
                "node",
                F.least(F.col("comp"), F.coalesce("nbr_min", "comp")).alias("comp"),
                (F.coalesce("nbr_min", "comp") < F.col("comp")).alias("_changed"),
            ),
            "per-round labels: cut lineage, the driver reads _changed",
            eager=True,
        )
        changed = new_labels.filter(F.col("_changed")).limit(1).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "the pair graph has a longer path than any near-dup workload "
        "should — raise max_iter explicitly if this is intended"
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    weight_col: str | None = None,
) -> DataFrame:
    """(node, rank) — PageRank power iteration over a directed edge
    list, in FIXED-POINT integer arithmetic: total mass ``scale``
    micro-units, damping ``damping_num/damping_den``, contributions
    ``rank div out_degree``. Every operation is int64 div/mul/sum, so
    the result is bit-identical on any engine, partitioning, or
    aggregation order — float power iteration is NOT (double summation
    is order-dependent), which is why this is the oracle-checkable
    form. The truncation error is < out_degree micro-units per node per
    round — at scale=1e12, noise in the 12th digit.

    ``weight_col`` (int64 edge weights > 0) turns this into weighted
    PageRank: a node's mass splits in proportion to edge weight —
    ``contribution = (rank · w) div Σ out-weights``, with the
    numerator widened to DECIMAL(38,0) (rank·w overflows int64 on
    heavy edges). The unweighted path keeps its original pure-int64
    arithmetic, so existing oracles replay unchanged.

    Scale shape (same as ``connected_components``): each round is one
    equi-join (edges × ranks on src) + one groupBy(dst) sum — shuffle
    volume is |E| longs, never payloads; the edges-with-degree table is
    pinned once; each round checkpoints to truncate lineage so the
    plan stays flat over ``iters``. Node count is the only driver
    scalar. Dangling nodes (no out-edges) leak their damped mass — the
    standard simplified formulation; symmetrize the edge list for the
    undirected random walk, which has no dangling nodes by
    construction."""
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    nodes = materialize(
        _endpoints(edges, src, dst).distinct(),
        "node table, counted here and joined by every round",
        eager=True,
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0).cast("long"))
    teleport = (scale * (damping_den - damping_num)) // (damping_den * n)
    if weight_col is None:
        deg = edges.groupBy(F.col(src).alias("_dn")).agg(
            F.count(F.lit(1)).alias("_deg")
        )
        e_sel = edges.select(F.col(src).alias("_es"), F.col(dst).alias("_ed"))
        contrib_expr = "rank div _deg"
    else:
        deg = edges.groupBy(F.col(src).alias("_dn")).agg(
            F.sum(F.col(weight_col)).alias("_deg")
        )
        e_sel = edges.select(
            F.col(src).alias("_es"),
            F.col(dst).alias("_ed"),
            F.col(weight_col).cast("long").alias("_w"),
        )
        contrib_expr = (
            "CAST((CAST(rank AS DECIMAL(38,0)) * _w) div _deg AS LONG)"
        )
    edged = materialize(
        e_sel.join(deg, F.col("_es") == F.col("_dn")).drop("_dn"),
        "edges with out-degree, read by every round",
        eager=True,
    )
    ranks = nodes.withColumn("rank", F.lit(scale // n).cast("long"))
    for _ in range(iters):
        contrib = edged.join(ranks, edged["_es"] == ranks["node"]).select(
            F.col("_ed").alias("node"),
            F.expr(contrib_expr).alias("_c"),
        )
        sums = contrib.groupBy("node").agg(F.sum("_c").alias("_s"))
        ranks = materialize(
            nodes.join(sums, "node", "left").select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"({damping_num} * coalesce(_s, 0L)) div {damping_den}"
                    )
                ).alias("rank"),
            ),
            "per-round ranks: cut lineage so the plan stays flat",
            eager=True,
        )
    return ranks


def triangle_counts(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """(node, triangles) — per-node triangle membership counts over an
    undirected edge list (direction and duplicates ignored; self-loops
    dropped). Triangle density separates organic similarity
    neighborhoods from spam link-farms / template blobs in near-dup
    graphs — the classic graph-quality signal.

    Degree-ordered edge orientation (Cohen's MapReduce triangle
    counting): orient every edge from its lower-(degree, id) endpoint
    to the higher one, so outdeg is bounded by O(√|E|) even for
    scale-free hubs (a celebrity node of degree 10⁶ has its wedges
    counted at its FOLLOWERS, not 10¹² pairs at itself). Then
    edge-iterator intersection instead of wedge materialization: each
    oriented edge (s,d) joins the out-neighbor LISTS of s and d and
    counts ``array_intersect`` — every triangle {x,y,z} (oriented
    x→y, x→z, y→z) is found exactly once, at edge (x,y) with z in the
    intersection. The Σ outdeg² wedge work still happens, but INSIDE
    codegen array ops on co-located rows — the shuffled volume is |E|
    edges + |E| adjacency payloads, never the wedge set (measured
    ~1.9× faster than the wedge-join form at sf0.1, where ~1M edges
    make tens of millions of wedges)."""
    e = materialize(
        _undirected(edges, src, dst).distinct(),
        "read by the degree agg and the orientation join",
        eager=True,
    )
    deg = _endpoints(e, "u", "v").groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ranked = e.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = materialize(
        ranked.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("d"),
        ),
        "oriented edges, read by the edge stream and both adjacency joins",
        eager=True,
    )
    adj = oriented.groupBy("s").agg(F.collect_list("d").alias("ns"))
    # The checkpointed edge list comes back AQE-coalesced to a handful
    # of partitions (measured: 3 at sf0.1) — fine for streaming scans,
    # but it serializes the Σ outdeg² per-edge intersect work onto that
    # many cores. Spread the SMALL (s, d) stream round-robin BEFORE the
    # adjacency payloads attach (16 B/row shuffle; the arrays join on
    # afterwards via broadcast — never shuffled). Measured at sf0.1:
    # warm 3.0 s → 1.0 s, value-identical.
    spread = oriented.repartition(_shuffle_partitions(edges))
    per_edge = (
        spread.join(adj.select(F.col("s"), F.col("ns").alias("ns_s")), "s")
        # a sink node has no out-edges -> no adj row; its intersection
        # is empty, so left-join + empty-array coalesce, never drop
        .join(
            adj.select(F.col("s").alias("d"), F.col("ns").alias("ns_d")),
            "d",
            "left",
        )
        .select(
            "s",
            "d",
            F.coalesce(
                F.array_intersect("ns_s", "ns_d"),
                F.array().cast(f"array<{edges.schema[src].dataType.simpleString()}>"),
            ).alias("common"),
        )
    )
    # triangle {x,y,z} found once at (s=x, d=y, z in common): each of
    # the three nodes gets one membership. ONE generator pass emits
    # all three contribution kinds — the previous 3-way union
    # re-executed the adjacency-join + intersect subtree once per
    # branch (measured: the intersect pass ran 3x per action).
    c = F.size("common").cast("long")
    contrib = per_edge.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(F.col("s").alias("node"), c.alias("c")),
                    F.struct(F.col("d").alias("node"), c.alias("c")),
                ),
                F.transform(
                    "common",
                    lambda z: F.struct(
                        z.alias("node"), F.lit(1).cast("long").alias("c")
                    ),
                ),
            )
        ).alias("_x")
    ).select(F.col("_x.node").alias("node"), F.col("_x.c").alias("c"))
    return (
        contrib.groupBy("node")
        .agg(F.sum("c").alias("triangles"))
        .filter(F.col("triangles") > 0)
    )


def neardup_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int | None = None,
    bands: int | None = None,
) -> DataFrame:
    """(id, cluster_id) for EVERY document: near-dup cluster assignment
    over the banded MinHash-LSH candidate graph. Documents with no
    near-dup candidates are their own singleton cluster.

    Composition: MinHash band buckets → bucket-STAR edges →
    ``connected_components`` (min-label propagation) → left join back
    onto the full id set. The final join shuffles only ids.

    The star contraction is the scale move: every LSH bucket is a
    CLIQUE in the candidate-pair graph, so materializing pairs costs
    Σ|B|²/2 edges (quadratic in bucket size — millions of edges for a
    few thousand duplicated docs). Connecting each bucket member to
    the bucket's minimum id instead yields a graph with IDENTICAL
    connected components (all members reach each other through the
    minimum) at Σ|B| edges — O(N·bands), linear. CC rounds then
    shuffle ids proportional to the corpus, not to the square of the
    duplicate-group sizes.
    """
    from pyspark.sql import Window

    from bytewax_spark.functions import dedup

    pairs_k = k if k is not None else dedup.MINHASH_K
    pairs_b = bands if bands is not None else dedup.MINHASH_BANDS
    banded = dedup._banded(df, text_col, id_col, n, pairs_k, pairs_b)
    w = Window.partitionBy("band", "bucket")
    marked = banded.withColumn("_m", F.min(id_col).over(w))
    marked = materialize(
        marked,
        "O(docs x bands) marked table, read by the star edges and the seed "
        "labels; each would re-run the MinHash aggregation",
        eager=True,
    )
    stars = (
        marked.filter(F.col(id_col) != F.col("_m"))
        .select(F.col("_m").alias("id_a"), F.col(id_col).alias("id_b"))
        .distinct()
    )
    # seed: each node starts at the min id over ALL its buckets (a
    # valid same-component upper bound) — one aggregate over rows we
    # already have, and it collapses single-blob components in round 0
    seed = marked.groupBy(F.col(id_col).alias("node")).agg(
        F.min("_m").alias("comp")
    )
    comp = connected_components(stars, "id_a", "id_b", init_labels=seed)
    ids = df.select(F.col(id_col))
    return ids.join(
        comp.withColumnRenamed("node", id_col), id_col, "left"
    ).select(
        id_col, F.coalesce("comp", F.col(id_col)).alias("cluster_id")
    )


def label_propagation(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iters: int = 2,
) -> DataFrame:
    """(node, label) — synchronous label propagation (Raghavan et al.
    2007, public) over an undirected edge list: every node starts as
    its own label; each round it adopts the most frequent label among
    its neighbors, ties to the SMALLEST label. Deterministic by
    construction (synchronous + total tie order), so a fixed
    ``iters`` unrolls to an exact SQL oracle — unlike the usual
    randomized-order LPA.

    Scale shape per round: one |E|-row join to carry labels to
    neighbors (both directions of each edge), one
    (node, label)-count aggregation with map-side combine, one
    ``max_by`` per node — shuffles carry ids and labels only;
    an eager checkpoint truncates lineage per round like the other
    fixpoints. Isolated nodes (no edges) keep their own label."""
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    und = materialize(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        "edge list read by every round",
        eager=True,
    )
    both = und.unionByName(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    nodes = materialize(
        both.select(F.col("u").alias("node")).distinct(),
        "node table joined by every round",
        eager=True,
    )
    labels = nodes.withColumn("label", F.col("node"))
    for _ in range(iters):
        neigh = both.join(
            labels.withColumnRenamed("node", "v"), "v"
        ).select(F.col("u").alias("node"), "label")
        counts = neigh.groupBy("node", "label").agg(F.count(F.lit(1)).alias("cnt"))
        # most frequent label, ties -> smallest: max over (cnt, -label)
        best = counts.groupBy("node").agg(
            F.max_by(
                F.col("label"), F.struct(F.col("cnt"), (-F.col("label")).alias("_t"))
            ).alias("label")
        )
        labels = materialize(
            nodes.join(best, "node", "left").select(
                "node", F.coalesce("label", F.col("node")).alias("label")
            ),
            "per-round labels: cut lineage so the plan stays flat",
            eager=True,
        )
    return labels

def kcore(
    edges: DataFrame,
    k: int,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 50,
) -> DataFrame:
    """(node, degree) for every node of the k-core — the maximal
    subgraph where every node has degree >= k (Seidman 1983, public).
    Computed by synchronous peeling: each round drops all nodes whose
    degree in the SURVIVING subgraph is < k, until no node drops. The
    k-core is unique, so the result is order-independent; synchronous
    rounds make a fixed round count SQL-unrollable for oracle replay.

    Scale shape per round: one degree aggregation (map-side combine
    over id pairs) and two semi-joins restricting edges to surviving
    endpoints — shuffles carry node ids only, never payloads. Rounds
    are bounded by the peel depth (degeneracy ordering depth), small
    on real graphs; an eager checkpoint truncates lineage per round.
    Raises after ``max_rounds`` without convergence (loud, like
    connected_components)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    und = materialize(
        _undirected(edges, src, dst).distinct(), "first round's edges", eager=True
    )
    cur = und.unionByName(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    prev_n = None
    for _ in range(max_rounds):
        deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
        keep = materialize(
            deg.filter(F.col("degree") >= k),
            "per-round survivors, counted by the driver and joined twice",
            eager=True,
        )
        n = keep.count()
        if n == prev_n:
            return keep.select(F.col("u").alias("node"), "degree")
        prev_n = n
        kn = keep.select("u")
        cur = materialize(
            cur.join(kn, "u", "left_semi")
            .join(kn.withColumnRenamed("u", "v"), "v", "left_semi")
            .select("u", "v"),
            "per-round surviving edges: cut lineage so the plan stays flat",
            eager=True,
        )
    raise RuntimeError(
        f"kcore(k={k}) did not converge in {max_rounds} rounds"
    )


def _pair_suffix_agg_arrow(
    pre: DataFrame, out_col: str, threshold: int, shuffle_parts: int
) -> DataFrame:
    """Aggregate the wedge suffix-array stream ``(id_a, _bs, _w)`` into
    surviving non-adjacent pairs — the Arrow replacement for the
    ``explode → HashAggregate`` tail of :func:`adamic_adar` /
    :func:`common_neighbors` (guide §4.2: hand whole batches to
    vectorized native code instead of a 60M-entry JVM hash map).

    Exactness: the stream is hash-partitioned on ``id_a`` first, and
    the group key is ``(id_a, id_b)`` — every group lives entirely in
    one partition, so a per-partition aggregation IS the global one.
    Per partition the kernel flattens the suffix arrays with
    ``np.repeat`` (the Arrow list values buffer is already the
    concatenated id_b stream), sorts one packed ``uint64`` key (or
    ``np.lexsort`` when ids exceed 32 bits / are negative — semantics
    hold for any long ids), and computes the group sums/mins with
    ``np.add.reduceat``/``np.minimum.reduceat`` — a cache-friendly
    sort aggregation in ~3 flat int64 arrays (~50 MB/task at sf0.1)
    instead of ~3 GB of UnsafeRow hash maps, which on a
    memory-overcommitted host is the difference between a 4 s and a
    40 s run (measured). Sentinel rows (``_w < 0``, one per
    adjacent pair, duplicates welcome) surface as ``min < 0`` and
    drop the group; sums add only positive weights, matching the SQL
    shape's ``sum(when(_w > 0, _w).otherwise(0))`` bit for bit.

    Scale note: per-task memory is total_pairs / shuffle_parts — the
    same quantity that sizes the SQL shape's hash maps; size
    ``spark.sql.shuffle.partitions`` for the cluster as usual (the
    kernel is linear + one sort, and its arrays are ~6x smaller than
    the equivalent UnsafeRow state)."""

    def gen(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        a_chunks: list = []
        b_chunks: list = []
        w_chunks: list = []
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            bs = batch.column(1)
            w = batch.column(2).to_numpy(zero_copy_only=False)
            lens = pc.list_value_length(bs).to_numpy(zero_copy_only=False)
            flat = pc.list_flatten(bs).to_numpy(zero_copy_only=False)
            a_chunks.append(np.repeat(ids, lens))
            b_chunks.append(flat)
            w_chunks.append(np.repeat(w, lens))
        if not a_chunks:
            return
        A = np.concatenate(a_chunks)
        B = np.concatenate(b_chunks)
        W = np.concatenate(w_chunks)
        del a_chunks, b_chunks, w_chunks
        if A.size == 0:
            return
        if A.min() >= 0 and B.min() >= 0 and A.max() < (1 << 32) and B.max() < (1 << 32):
            K = (A.astype(np.uint64) << np.uint64(32)) | B.astype(np.uint64)
            order = np.argsort(K)
            K = K[order]
            Ws = W[order]
            starts = np.flatnonzero(np.r_[True, K[1:] != K[:-1]])
            sums = np.add.reduceat(np.where(Ws > 0, Ws, 0), starts)
            mins = np.minimum.reduceat(Ws, starts)
            keep = (mins > 0) & (sums >= threshold)
            Kk = K[starts[keep]]
            out_a = (Kk >> np.uint64(32)).astype(np.int64)
            out_b = Kk.astype(np.uint32).astype(np.int64)
        else:
            order = np.lexsort((B, A))
            A = A[order]
            B = B[order]
            Ws = W[order]
            starts = np.flatnonzero(
                np.r_[True, (A[1:] != A[:-1]) | (B[1:] != B[:-1])]
            )
            sums = np.add.reduceat(np.where(Ws > 0, Ws, 0), starts)
            mins = np.minimum.reduceat(Ws, starts)
            keep = (mins > 0) & (sums >= threshold)
            out_a = A[starts[keep]]
            out_b = B[starts[keep]]
        if out_a.size:
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_a, pa.int64()), pa.array(out_b, pa.int64()), pa.array(sums[keep])],
                names=["id_a", "id_b", out_col],
            )

    return pre.repartition(shuffle_parts, "id_a").mapInArrow(
        gen, f"id_a long, id_b long, {out_col} long"
    )


def _integral_ids(sym: DataFrame) -> bool:
    """The Arrow pair kernel's output schema is fixed to ``long`` ids."""
    return isinstance(sym.schema["u"].dataType, IntegralType)


def common_neighbors(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    min_common: int = 2,
    max_degree: int | None = None,
) -> DataFrame:
    """Link prediction by common neighbors (Liben-Nowell & Kleinberg
    2003, public): for every NON-adjacent pair at distance 2, the
    count of shared neighbors and the neighborhood Jaccard
    ``common / (deg_a + deg_b - common)``. Returns
    ``(id_a, id_b, common, jaccard)`` with id_a < id_b, common >=
    ``min_common``.

    Shape: one wedge join through the shared neighbor (fan-out is
    Σ deg(m)² over middle nodes — the scale hazard), then an anti-join
    removes existing edges. ``max_degree`` drops hub middles from the
    wedge (the standard mitigation: a 10⁶-degree hub contributes
    10¹² wedges and near-zero signal per pair); None = exact.
    Jaccard is computed from exact integer degrees, rounded to 6.

    Two-exchange shape (same as :func:`adamic_adar`): the
    symmetrized RAW pair stream (no ``distinct``) hash-repartitions
    on the middle once and ``collect_set`` dedups + builds the sorted
    adjacency array in the same aggregate; degree is ``size(_ns)``.
    Wedge pairs ship to the pair aggregation as PLAIN-long SUFFIX
    ARRAYS ``(id_a, [id_b...])`` partitioned on ``id_a`` and exploded
    post-shuffle (subset-of-grouping-keys partitioning keeps the
    explode + both agg phases in one stage; carrying
    ``(neighbor, degree)`` structs through an exploded per-pair
    stream would triple the exchange bytes), and the adjacency anti-join
    is FOLDED INTO the pair aggregation via sentinel rows (``_c =
    -1``, taken straight from the raw symmetrized stream — duplicates
    are harmless because the aggregate sums only positive counts and
    detects adjacency via ``min(_c) < 0``): an adjacent pair is
    dropped by one filter.
    Endpoint degrees for Jaccard are joined AFTER the count filter,
    onto the (tiny) surviving pair set, from a projection of the
    SAME adjacency aggregate; they do not re-execute the
    edge-construction subtree because Catalyst's ReuseExchange shares
    the one middle-key exchange. The pair stream is pre-repartitioned on the
    pair key: its dedup factor is near 1, so the map-side partial agg
    cannot shrink the shuffle and hashing raw pairs straight to their
    reducer keeps the partial pass same-stage.

    Integer ids take the :func:`_pair_suffix_agg_arrow` numpy
    sort-aggregation in place of the post-exchange ``explode →
    HashAggregate`` (value-identical, ~6x smaller per-task state, ids
    out as ``long``); any other id type keeps that SQL shape."""
    sym = materialize(
        _undirected(edges, src, dst),
        "read by both union branches and the adjacency sentinels",
        eager=True,
    )
    both = sym.unionByName(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
    shuffle_parts = _shuffle_partitions(edges)
    nbrs = (
        both.select(F.col("u").alias("m"), F.col("v").alias("n"))
        .repartition(shuffle_parts, "m")
        .groupBy("m")
        .agg(F.sort_array(F.collect_set("n")).alias("_ns"))
    )
    wmid = nbrs
    if max_degree is not None:
        wmid = wmid.filter(F.size("_ns") <= max_degree)
    ex = wmid.select(F.posexplode("_ns").alias("_i", "id_a"), "_ns")
    # suffix arrays through the exchange + post-shuffle explode, same
    # rationale as adamic_adar: HashPartitioning(id_a) satisfies the
    # (id_a, id_b) grouping, so the explode and both aggregate phases
    # stay in the one post-shuffle stage.
    arrs = ex.select(
        "id_a",
        F.slice("_ns", F.col("_i") + 2, F.size("_ns")).alias("_bs"),
        F.lit(1).cast("long").alias("_c"),
    ).filter(F.size("_bs") > 0)
    sent = sym.select(
        F.col("u").alias("id_a"),
        F.array(F.col("v")).alias("_bs"),
        F.lit(-1).cast("long").alias("_c"),
    )
    if _integral_ids(sym):
        wedges = _pair_suffix_agg_arrow(
            arrs.unionByName(sent), "common", min_common, shuffle_parts
        )
    else:
        wedges = (
            arrs.unionByName(sent)
            .repartition(shuffle_parts, "id_a")
            .select("id_a", F.explode("_bs").alias("id_b"), "_c")
            .groupBy("id_a", "id_b")
            .agg(
                F.sum(
                    F.when(F.col("_c") > 0, F.col("_c")).otherwise(0)
                ).alias("common"),
                F.min("_c").alias("_mn"),
            )
            .filter((F.col("_mn") > 0) & (F.col("common") >= min_common))
            .select("id_a", "id_b", "common")
        )
    deg = nbrs.select(F.col("m"), F.size("_ns").cast("long").alias("_d"))
    da = deg.select(F.col("m").alias("id_a"), F.col("_d").alias("_da"))
    db = deg.select(F.col("m").alias("id_b"), F.col("_d").alias("_db"))
    return (
        wedges.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a",
            "id_b",
            "common",
            F.round(
                F.col("common")
                / (F.col("_da") + F.col("_db") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )


def adamic_adar(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    min_score_micro: int = 1,
    max_degree: int | None = None,
) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003, public):
    common neighbors weighted by 1/ln(degree) — a shared RARE neighbor
    is strong evidence, a shared hub is weak. Returns non-adjacent
    pairs ``(id_a, id_b, aa_micro)`` with ``aa_micro`` =
    Σ round(10⁶/ln(deg(m))) over shared neighbors m — the weight is
    quantized to an int64 BEFORE summation, so the score is exact and
    order-independent on any engine (a float Σ 1/ln(d) is neither).
    Middles of degree 1 contribute nothing (ln 1 = 0 — they witness no
    wedge anyway); ``max_degree`` drops hub middles; pairs below
    ``min_score_micro`` drop.

    Two-exchange shape: the symmetrized RAW pair stream (no
    ``distinct`` — duplicate observations are welcome) goes straight
    into one hash repartition on the middle and a ``collect_set``,
    which dedups and builds the sorted adjacency array in the SAME
    aggregate; degree is then just ``size(_ns)``, with no separate
    exchanges for ``distinct``, a degree ``groupBy`` or a mid-table
    join to carry it. Wedges are shipped to the pair
    aggregation as SUFFIX ARRAYS ``(id_a, [id_b...], _w)`` — one row
    per (middle, position), ~8 bytes per pair — hash-partitioned on
    ``id_a`` alone and exploded AFTER the exchange; partitioning on a
    subset of the grouping keys satisfies the aggregate's clustering
    requirement, so the explode + partial + final agg share the one
    post-shuffle stage (each unordered pair still appears EXACTLY
    once: ``id_a < id_b`` by the sorted array). The adjacency
    anti-join is FOLDED INTO the pair aggregation: sentinel rows
    with ``_w = -1`` are taken STRAIGHT from the raw symmetrized
    stream (duplicates are harmless — the aggregate sums only
    positive weights and detects adjacency via ``min(_w) < 0``), so
    an adjacent pair is dropped by one filter with no separate join
    stage, no edge-side shuffle at corpus scale, and no second pass
    over the adjacency aggregate.

    Integer ids take the :func:`_pair_suffix_agg_arrow` kernel, as in
    :func:`common_neighbors`; any other id type keeps the SQL shape."""
    sym = materialize(
        _undirected(edges, src, dst),
        "read by both union branches and the adjacency sentinels",
        eager=True,
    )
    both = sym.unionByName(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
    shuffle_parts = _shuffle_partitions(edges)
    nbrs = (
        both.select(F.col("u").alias("m"), F.col("v").alias("n"))
        .repartition(shuffle_parts, "m")
        .groupBy("m")
        .agg(F.sort_array(F.collect_set("n")).alias("_ns"))
    )
    wmid = nbrs.filter(F.size("_ns") >= 2)
    if max_degree is not None:
        wmid = wmid.filter(F.size("_ns") <= max_degree)
    wmid = wmid.withColumn(
        "_w",
        F.round(F.lit(1_000_000) / F.log(F.size("_ns"))).cast("long"),
    )
    ex = wmid.select("_w", F.posexplode("_ns").alias("_i", "id_a"), "_ns")
    # ship SUFFIX ARRAYS through the pair exchange, not exploded pairs:
    # (id_a, [id_b...], _w) is ~8 bytes per pair plus one row overhead
    # per (middle, position) instead of a 24-byte row per pair — ~3x
    # fewer exchange bytes and ~25x fewer shuffle rows at sf0.1. The
    # explode happens AFTER the repartition: HashPartitioning(id_a)
    # satisfies the (id_a, id_b) grouping's ClusteredDistribution
    # (partitioning on a subset of the grouping keys), so the partial
    # + final aggregate run in the SAME post-shuffle stage — no second
    # exchange. Skew note: this hashes on id_a alone; per-partition
    # pair volume is bounded by deg(id_a) x max_degree, so set
    # max_degree on hub-heavy graphs (the same knob that bounds the
    # wedge count itself).
    arrs = ex.select(
        "id_a",
        F.slice("_ns", F.col("_i") + 2, F.size("_ns")).alias("_bs"),
        "_w",
    ).filter(F.size("_bs") > 0)
    # adjacency sentinels straight off the raw edge stream — dups OK
    sent = sym.select(
        F.col("u").alias("id_a"),
        F.array(F.col("v")).alias("_bs"),
        F.lit(-1).cast("long").alias("_w"),
    )
    if _integral_ids(sym):
        return _pair_suffix_agg_arrow(
            arrs.unionByName(sent), "aa_micro", min_score_micro, shuffle_parts
        )
    return (
        arrs.unionByName(sent)
        .repartition(shuffle_parts, "id_a")
        .select("id_a", F.explode("_bs").alias("id_b"), "_w")
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(F.when(F.col("_w") > 0, F.col("_w")).otherwise(0)).alias(
                "aa_micro"
            ),
            F.min("_w").alias("_mn"),
        )
        .filter((F.col("_mn") > 0) & (F.col("aa_micro") >= min_score_micro))
        .select("id_a", "id_b", "aa_micro")
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
    scale: int = 10**9,
) -> DataFrame:
    """(node, hub, auth) — HITS hubs-and-authorities (Kleinberg 1999)
    over a directed edge list in FIXED-POINT integer arithmetic:
    each round recomputes authority(v) = Σ hub(u) over in-edges then
    hub(u) = Σ auth(v) over out-edges, L1-normalized back to total
    mass ``scale`` with integer div (the classic L2 norm needs a
    square root — L1 keeps every operation int64/DECIMAL exact, and
    only the norm choice differs, not the ranking). Bit-identical on
    any engine or partition order, same rationale as :func:`pagerank`.
    Normalization numerators widen to DECIMAL(38,0) — ``raw · scale``
    overflows int64 on high-degree graphs.

    Scale shape: per round, two equi-joins of the edge list against a
    (node, value) table and two groupBy sums — shuffle volume is |E|
    longs per half-round; the 1-row L1 total is broadcast; the edge
    list is pinned once; a per-round checkpoint keeps the plan
    flat. Nodes with no in-edges read auth 0 (no out-edges: hub 0)."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    e = materialize(
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")).distinct(),
        "edge list read by both half-rounds of every round",
        eager=True,
    )
    nodes = materialize(
        _endpoints(e, "_s", "_d").distinct(),
        "node table joined by both half-rounds of every round",
        eager=True,
    )
    hub = nodes.withColumn("hub", F.lit(scale).cast("long"))
    auth = None
    for _ in range(iters):
        raw_a = e.join(hub, e["_s"] == hub["node"]).groupBy(
            F.col("_d").alias("node")
        ).agg(F.sum("hub").alias("_ra"))
        tot_a = raw_a.agg(F.sum("_ra").alias("_ta"))
        auth = materialize(
            nodes.join(raw_a, "node", "left")
            .join(F.broadcast(tot_a))
            .select(
                "node",
                F.coalesce(
                    F.expr(
                        f"CAST((CAST(_ra AS DECIMAL(38,0)) * {scale})"
                        " div _ta AS LONG)"
                    ),
                    F.lit(0).cast("long"),
                ).alias("auth"),
            ),
            "per-round authority scores: cut lineage so the plan stays flat",
            eager=True,
        )
        raw_h = e.join(auth, e["_d"] == auth["node"]).groupBy(
            F.col("_s").alias("node")
        ).agg(F.sum("auth").alias("_rh"))
        tot_h = raw_h.agg(F.sum("_rh").alias("_th"))
        hub = materialize(
            nodes.join(raw_h, "node", "left")
            .join(F.broadcast(tot_h))
            .select(
                "node",
                F.coalesce(
                    F.expr(
                        f"CAST((CAST(_rh AS DECIMAL(38,0)) * {scale})"
                        " div _th AS LONG)"
                    ),
                    F.lit(0).cast("long"),
                ).alias("hub"),
            ),
            "per-round hub scores: cut lineage so the plan stays flat",
            eager=True,
        )
    return hub.join(auth, "node").select("node", "hub", "auth")


def feature_prop(
    edges: DataFrame,
    feats: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    feat_col: str = "feat",
    directed: bool = False,
) -> DataFrame:
    """One round of neighborhood feature aggregation — the mean-
    aggregator primitive GNN pipelines (GraphSAGE, Hamilton 2017) run
    per layer, as a dataflow: for every node, the count / sum /
    integer-micro mean of its neighbors' int64 feature (quantize
    floats upstream). ``directed=False`` symmetrizes, aggregating over
    all touching edges; ``directed=True`` aggregates over in-edges
    (message flows src→dst). Returns ``(node, n_nbrs, nbr_sum,
    nbr_mean_micro)`` for nodes with ≥1 qualifying edge.

    One equi-join of the edge list against the feature table on the
    message side + one groupBy(node) sum — shuffle volume is |E|
    longs per round, the same shape as :func:`pagerank`; stack calls
    for multi-hop. The mean numerator widens to DECIMAL(38,0) so
    high-degree hubs can't overflow ``sum · 10⁶``."""
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    if not directed:
        # symmetrize with a map-side explode, NOT a self-union: a
        # union re-executes the whole upstream edge builder once per
        # branch (for the purchase graph: the lineitem join +
        # distinct, twice per run), while the explode doubles rows in
        # the same scan and keeps AQE's stats intact
        e = e.select(
            F.explode(
                F.array(
                    F.struct(F.col("_s"), F.col("_d")),
                    F.struct(
                        F.col("_d").alias("_s"), F.col("_s").alias("_d")
                    ),
                )
            ).alias("_p")
        ).select("_p._s", "_p._d")
    fts = feats.select(
        F.col(node_col).alias("_fn"), F.col(feat_col).cast("long").alias("_fv")
    )
    return (
        e.join(fts, e["_s"] == fts["_fn"])
        .groupBy(F.col("_d").alias("node"))
        .agg(
            F.count(F.lit(1)).alias("n_nbrs"),
            F.sum("_fv").alias("nbr_sum"),
        )
        .select(
            "node",
            "n_nbrs",
            "nbr_sum",
            F.expr(
                "CAST((CAST(nbr_sum AS DECIMAL(38,0)) * 1000000)"
                " div n_nbrs AS LONG)"
            ).alias("nbr_mean_micro"),
        )
    )


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity Q of a community labeling (Newman & Girvan
    2004) over an undirected edge list, as ONE exact fraction:
    ``Q = (4m·Σ_c e_c − Σ_c d_c²) / (4m²)`` reported in int64 micros
    (DECIMAL(38,0) cross-products — per-community float division would
    drift). Q ≈ 0: no better than random; 0.3–0.7: strong structure.
    Returns one row ``(m, n_communities, intra_edges, q_micro)``.

    Cost: one labels join per edge endpoint (intra-edge count), one
    degree aggregation joined to labels (per-community degree sums) —
    all id-keyed shuffles; the verdict is one row. Pair with
    :func:`label_propagation` / :func:`neardup_clusters` to score the
    clustering they produced."""
    und = materialize(
        _undirected(edges, src, dst).distinct(),
        "read by the intra-edge tagging and the degree agg",
        eager=True,
    )
    lab = labels.select(
        F.col(node_col).alias("_n"), F.col(label_col).alias("_l")
    )
    lu = lab.select(F.col("_n").alias("u"), F.col("_l").alias("_lu"))
    lv = lab.select(F.col("_n").alias("v"), F.col("_l").alias("_lv"))
    tagged = und.join(lu, "u").join(lv, "v")
    m_intra = tagged.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum((F.col("_lu") == F.col("_lv")).cast("long")).alias("intra_edges"),
    )
    deg = _endpoints(und, "u", "v", "_n").groupBy("_n").agg(F.count(F.lit(1)).alias("_d"))
    dsum = (
        deg.join(lab, "_n")
        .groupBy("_l")
        .agg(F.sum("_d").cast("decimal(38,0)").alias("_dc"))
        .agg(
            F.count(F.lit(1)).alias("n_communities"),
            F.sum(F.col("_dc") * F.col("_dc")).alias("_sd2"),
        )
    )
    return (
        m_intra.join(dsum)
        .select(
            "m",
            "n_communities",
            "intra_edges",
            F.expr(
                "CAST(((4 * CAST(m AS DECIMAL(38,0)) * intra_edges - _sd2)"
                " * 1000000) div (4 * CAST(m AS DECIMAL(38,0)) * m) AS LONG)"
            ).alias("q_micro"),
        )
    )


def clustering_coefficient(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Per-node local clustering coefficient in exact ppm:
    ``2·triangles(v) · 10⁶ div (deg·(deg−1))`` — how clique-like each
    node's neighborhood is (1e6 = my neighbors all know each other;
    near 0 = a star hub). The standard tie-breaker between organic
    communities and template/boilerplate blobs when scoring dedup
    clusters. Returns ``(node, degree, triangles, cc_ppm)``; degree-1
    nodes read 0.

    Composition: :func:`triangle_counts` (degree-ordered wedge join,
    O(√|E|) fan-out) + one degree aggregation + an id-keyed join —
    nothing new shuffles beyond the triangle pass."""
    und = materialize(
        _undirected(edges, src, dst).distinct(),
        "read by the triangle pass and the degree agg",
        eager=True,
    )
    tri = triangle_counts(und, "u", "v")
    deg = _endpoints(und, "u", "v").groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.expr(
                    "(2 * coalesce(triangles, 0L) * 1000000L)"
                    " div (degree * (degree - 1))"
                ),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("cc_ppm"),
        )
    )


def degree_powerlaw(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    d_min: int = 1,
) -> DataFrame:
    """Scale-free diagnostic: the continuous power-law exponent MLE
    over the degree distribution (Clauset, Shalizi & Newman 2009),
    ``α = 1 + n / Σ ln(d/d_min)`` for degrees ≥ ``d_min`` — α ≈ 2–3
    says hub-dominated (salt your joins); large α or tiny degree
    spread says near-uniform. Per-node log terms are micro-quantized
    before the sum (the PMI trick) so the estimate is engine-exact;
    the final α is one division on integers, reported in micros.
    Returns one row ``(n_nodes, d_min, max_degree, alpha_micro)``.

    One degree aggregation + one single-row reduction — the structure
    question answered without materializing anything per-pair."""
    if d_min < 1:
        raise ValueError(f"d_min must be >= 1, got {d_min}")
    und = _undirected(edges, src, dst).distinct()
    deg = (
        _endpoints(und, "u", "v")
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("_d"))
        .filter(F.col("_d") >= d_min)
    )
    lm = (
        F.round(F.log(F.col("_d").cast("double") / F.lit(float(d_min))) * 1_000_000)
        .cast("bigint")
        .alias("_lm")
    )
    return deg.select("_d", lm).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.lit(d_min).cast("long").alias("d_min"),
        F.max("_d").alias("max_degree"),
        # alpha = 1 + n/sum(ln) -> micros: 1e6 + n*1e12 div sum(lm)
        F.expr(
            "CAST(CASE WHEN SUM(_lm) > 0 THEN "
            "1000000 + (CAST(COUNT(1) AS DECIMAL(38,0)) * 1000000000000)"
            " div SUM(_lm) ELSE 0 END AS LONG)"
        ).alias("alpha_micro"),
    )
