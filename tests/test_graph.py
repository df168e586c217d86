"""Connected-components / near-dup clustering and the new text
signals (repetition, PII) — library-level tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bytewax_spark.functions import graph, text
from tests.conftest import load


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (3, 4)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["comp"]
        for r in graph.connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 8: 8, 9: 8, 10: 8}


def test_connected_components_chain_and_order_invariance(spark):
    # a chain labeled in reverse order stresses propagation depth, and
    # the result must not depend on edge direction or row order
    fwd = spark.createDataFrame([(i, i + 1) for i in range(10, 2, -1)], "id_a long, id_b long")
    rev = spark.createDataFrame([(i + 1, i) for i in range(3, 11)], "id_a long, id_b long")
    a = {r["node"]: r["comp"] for r in graph.connected_components(fwd).collect()}
    b = {r["node"]: r["comp"] for r in graph.connected_components(rev).collect()}
    assert a == b
    assert set(a.values()) == {3}


def test_connected_components_nonconvergence_raises(spark):
    edges = spark.createDataFrame([(i, i + 1) for i in range(30)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(edges, max_iter=2)


def test_neardup_clusters_covers_all_docs(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    clusters = graph.neardup_clusters(docs, "text", "doc_id", n=1, k=32, bands=4)
    rows = clusters.collect()
    assert len(rows) == docs.count()  # every doc labeled, singletons included
    by_id = {r["doc_id"]: r["cluster_id"] for r in rows}
    # cluster representative is the min member, so it labels itself
    for rep in set(by_id.values()):
        assert by_id[rep] == rep
        assert rep <= min(d for d, c in by_id.items() if c == rep)


def test_repetition_signals(spark):
    df = spark.createDataFrame(
        [("a a a a b",), ("a b c d e",), ("",), ("x y x y x y",)], "text string"
    )
    rows = df.select(
        text.distinct_word_ratio("text").alias("dr"),
        text.top_word_frac("text").alias("tf"),
        text.dup_ngram_frac("text", 2).alias("df2"),
    ).collect()
    assert rows[0]["dr"] == 0.4 and rows[0]["tf"] == 0.8
    assert rows[1]["dr"] == 1.0 and rows[1]["tf"] == 0.2 and rows[1]["df2"] == 0.0
    assert rows[2]["dr"] == 0.0 and rows[2]["tf"] == 0.0 and rows[2]["df2"] == 0.0
    # 'x y x y x y': 5 bigrams, 2 distinct -> 0.6 duplicated
    assert rows[3]["df2"] == 0.6


def test_pii_counts_and_redact(spark):
    df = spark.createDataFrame(
        [
            ("mail me at jane.doe+x@example.co.uk or call 555-123-4567",),
            ("server at 10.0.0.1, ssn 123-45-6789",),
            ("nothing sensitive here",),
        ],
        "text string",
    )
    rows = df.select(
        text.pii_counts("text").alias("p"), text.pii_redact("text").alias("red")
    ).collect()
    assert rows[0]["p"]["email"] == 1 and rows[0]["p"]["phone"] == 1
    assert rows[1]["p"]["ipv4"] == 1 and rows[1]["p"]["ssn"] == 1
    assert sum(rows[2]["p"].asDict().values()) == 0
    assert "<EMAIL>" in rows[0]["red"] and "jane" not in rows[0]["red"]
    assert "<PHONE>" in rows[0]["red"]
    assert "<IPV4>" in rows[1]["red"] and "<SSN>" in rows[1]["red"]
    assert rows[2]["red"] == "nothing sensitive here"


# ---------------------------------------------------------------------------
# pagerank (fixed-point power iteration)
# ---------------------------------------------------------------------------


def test_pagerank_symmetric_pair_fixed_point(spark):
    """On the 2-cycle the uniform distribution is the exact fixed
    point; the integer iteration must hold it bit-for-bit."""
    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    ranks = {r["node"]: r["rank"] for r in graph.pagerank(edges, iters=4).collect()}
    assert ranks == {1: 500_000_000_000, 2: 500_000_000_000}


def test_pagerank_mass_and_ordering(spark):
    """Hub (everyone links to node 0) must out-rank the spokes, and
    total mass stays within truncation slack of the scale."""
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 9)] + [(0, i) for i in range(1, 9)],
        "src long, dst long",
    )
    rows = graph.pagerank(edges, iters=5).collect()
    ranks = {r["node"]: r["rank"] for r in rows}
    assert all(ranks[0] > ranks[i] for i in range(1, 9))
    total = sum(ranks.values())
    # each round truncates < (deg + 1) micro-units per node
    assert 10**12 - 1000 <= total <= 10**12


def test_pagerank_partition_invariance_bit_exact(spark):
    edges_rows = [(i, (i * 7) % 20) for i in range(20) if i != (i * 7) % 20]
    e1 = spark.createDataFrame(edges_rows, "src long, dst long")
    e2 = e1.repartition(13)
    a = sorted(map(tuple, graph.pagerank(e1, iters=3).collect()))
    b = sorted(map(tuple, graph.pagerank(e2, iters=3).collect()))
    assert a == b  # integer arithmetic: identical, not just close


def test_pagerank_empty_and_zero_iters(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    assert graph.pagerank(empty, iters=3).count() == 0
    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    r0 = {r["node"]: r["rank"] for r in graph.pagerank(edges, iters=0).collect()}
    assert r0 == {1: 500_000_000_000, 2: 500_000_000_000}
    with pytest.raises(ValueError):
        graph.pagerank(edges, iters=-1)


# ---------------------------------------------------------------------------
# triangle_counts (degree-ordered orientation)
# ---------------------------------------------------------------------------


def test_triangle_counts_known_graph(spark):
    """K4 minus one edge: nodes of the shared edge sit in 2 triangles,
    the others in 1."""
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)], "id_a long, id_b long"
    )
    got = {r["node"]: r["triangles"] for r in graph.triangle_counts(edges).collect()}
    assert got == {1: 2, 2: 2, 3: 1, 4: 1}


def test_triangle_counts_ignores_direction_dups_loops(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (2, 2)], "id_a long, id_b long"
    )
    got = {r["node"]: r["triangles"] for r in graph.triangle_counts(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangle_counts_triangle_free(spark):
    # a star has wedges but no closures; nodes without triangles are absent
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "id_a long, id_b long"
    )
    assert graph.triangle_counts(edges).count() == 0


def test_label_propagation_matches_python_reference(spark):
    """Exact agreement with a pure-Python synchronous LPA (most
    frequent neighbor label, ties to smallest) over several rounds."""
    from bytewax_spark.functions import graph

    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10), (20, 21)]
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")

    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    labels = {n: n for n in adj}
    for _ in range(3):
        new = {}
        for n, ns in adj.items():
            cnt: dict[int, int] = {}
            for m in ns:
                cnt[labels[m]] = cnt.get(labels[m], 0) + 1
            new[n] = min(
                (lbl for lbl in cnt if cnt[lbl] == max(cnt.values()))
            )
        labels = new

    got = dict(
        (r["node"], r["label"])
        for r in graph.label_propagation(df, iters=3).collect()
    )
    assert got == labels


def test_label_propagation_isolated_node_keeps_label(spark):
    from bytewax_spark.functions import graph

    df = spark.createDataFrame([(5, 5)], "id_a bigint, id_b bigint")
    # self-loop only -> filtered out -> no nodes at all
    assert graph.label_propagation(df, iters=2).count() == 0
    df2 = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    got = sorted(map(tuple, graph.label_propagation(df2, iters=2).collect()))
    # 1<->2: each adopts the other's label each round; after 2 rounds back to self
    assert got == [(1, 1), (2, 2)]


# ---------------------------------------------------------------------------
# kcore
# ---------------------------------------------------------------------------


def test_kcore_peels_cascade(spark):
    # path a-b-c-d plus triangle x-y-z: 2-core = the triangle only
    # (peeling the path endpoints cascades through the whole path).
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
        "id_a bigint, id_b bigint",
    )
    from bytewax_spark.functions import graph

    got = {r["node"]: r["degree"] for r in graph.kcore(edges, 2).collect()}
    assert got == {10: 2, 11: 2, 12: 2}


def test_kcore_k1_keeps_all_connected(spark):
    edges = spark.createDataFrame([(1, 2), (3, 4)], "id_a bigint, id_b bigint")
    from bytewax_spark.functions import graph

    got = {r["node"]: r["degree"] for r in graph.kcore(edges, 1).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_kcore_empty_when_k_exceeds_max_degree(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a bigint, id_b bigint")
    from bytewax_spark.functions import graph

    assert graph.kcore(edges, 5).count() == 0


def test_kcore_ignores_self_loops_and_duplicates(spark):
    edges = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (1, 2), (2, 3), (1, 3)],
        "id_a bigint, id_b bigint",
    )
    from bytewax_spark.functions import graph

    # triangle 1-2-3 after cleaning -> 2-core is all three, degree 2
    got = {r["node"]: r["degree"] for r in graph.kcore(edges, 2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


# ---------------------------------------------------------------------------
# common_neighbors
# ---------------------------------------------------------------------------


def test_common_neighbors_distance_two_only(spark):
    from bytewax_spark.functions import graph

    # path 1-2-3 plus 1-4-3: pair (1,3) shares neighbors {2,4};
    # (2,4) shares {1,3}; adjacent pairs never appear.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4), (4, 3)], "id_a bigint, id_b bigint"
    )
    got = {
        (r["id_a"], r["id_b"]): (r["common"], r["jaccard"])
        for r in graph.common_neighbors(edges, min_common=2).collect()
    }
    # deg(1)=deg(3)=2 -> jaccard = 2/(2+2-2) = 1.0
    assert got == {(1, 3): (2, 1.0), (2, 4): (2, 1.0)}


def test_common_neighbors_excludes_existing_edges(spark):
    from bytewax_spark.functions import graph

    # triangle + chord: (1,3) IS an edge -> excluded even though they
    # share neighbor 2
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4)], "id_a bigint, id_b bigint"
    )
    got = {(r["id_a"], r["id_b"]) for r in graph.common_neighbors(edges, min_common=2).collect()}
    assert (1, 3) not in got
    assert (1, 4) in got  # shares {2, 3}, not adjacent


def test_common_neighbors_max_degree_drops_hub_wedges(spark):
    from bytewax_spark.functions import graph

    # star through hub 0 (degree 4): all pairs share the hub; capping
    # max_degree below 4 removes the hub as a middle -> no wedges left
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "id_a bigint, id_b bigint"
    )
    assert graph.common_neighbors(edges, min_common=1).count() == 6
    assert graph.common_neighbors(edges, min_common=1, max_degree=3).count() == 0


def test_common_neighbors_string_ids(spark):
    """String ids take the SQL shape (the Arrow kernel emits long ids)."""
    from bytewax_spark.functions import graph

    edges = spark.createDataFrame(
        [("n1", "n2"), ("n2", "n3"), ("n1", "n4"), ("n4", "n3")], "id_a string, id_b string"
    )
    got = {
        (r["id_a"], r["id_b"]): (r["common"], r["jaccard"])
        for r in graph.common_neighbors(edges, min_common=2).collect()
    }
    assert got == {("n1", "n3"): (2, 1.0), ("n2", "n4"): (2, 1.0)}


def test_adamic_adar_weights_rare_neighbors_higher(spark):
    from bytewax_spark.functions import graph

    # pair (1,3) shares m=2 (degree 2); pair (4,6) shares m=5 whose
    # degree is 4 (hub) -> lower weight
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (5, 6), (5, 7), (5, 8)],
        "id_a bigint, id_b bigint",
    )
    got = {
        (r["id_a"], r["id_b"]): r["aa_micro"]
        for r in graph.adamic_adar(edges).collect()
    }
    import math

    assert got[(1, 3)] == round(1_000_000 / math.log(2))
    assert got[(4, 6)] == round(1_000_000 / math.log(4))
    assert got[(1, 3)] > got[(4, 6)]


def test_adamic_adar_excludes_adjacent_and_sums(spark):
    from bytewax_spark.functions import graph

    # square 1-2-3-4-1: (1,3) shares {2,4} both degree 2; (1,2) adjacent
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "id_a bigint, id_b bigint"
    )
    got = {
        (r["id_a"], r["id_b"]): r["aa_micro"]
        for r in graph.adamic_adar(edges).collect()
    }
    import math

    w = round(1_000_000 / math.log(2))
    assert got == {(1, 3): 2 * w, (2, 4): 2 * w}


def test_adamic_adar_string_ids(spark):
    from bytewax_spark.functions import graph

    edges = spark.createDataFrame(
        [("n1", "n2"), ("n2", "n3"), ("n3", "n4"), ("n4", "n1")], "id_a string, id_b string"
    )
    got = {(r["id_a"], r["id_b"]): r["aa_micro"] for r in graph.adamic_adar(edges).collect()}
    import math

    w = round(1_000_000 / math.log(2))
    assert got == {("n1", "n3"): 2 * w, ("n2", "n4"): 2 * w}


def test_link_prediction_int_ids_with_negatives(spark):
    """INT ids outside the packed-key range still come back as longs."""
    from bytewax_spark.functions import graph

    edges = spark.createDataFrame([(-1, 2), (2, 3), (3, 4), (4, -1)], "id_a int, id_b int")
    got = {(r["id_a"], r["id_b"]) for r in graph.adamic_adar(edges).collect()}
    assert got == {(-1, 3), (2, 4)}
    got = {(r["id_a"], r["id_b"]) for r in graph.common_neighbors(edges, min_common=2).collect()}
    assert got == {(-1, 3), (2, 4)}


def test_hits_star_graph_by_hand(spark):
    # hubs 1,2,3 all point at authority 10; hub 1 also points at 11.
    # round 1: ra(10)=3s, ra(11)=s (s=scale) -> auth 10 = 3/4, 11 = 1/4
    # rh(1)=auth10+auth11=s, rh(2)=rh(3)=auth10=3s/4 -> hubs 4/10, 3/10, 3/10
    edges = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (1, 11)], "src long, dst long"
    )
    out = {r.node: (r.hub, r.auth) for r in graph.hits(edges, iters=1).collect()}
    s = 10**9
    assert out[10] == (0, 750_000_000)
    assert out[11] == (0, 250_000_000)
    assert out[1] == (400_000_000, 0)
    assert out[2] == (300_000_000, 0)
    assert out[3] == (300_000_000, 0)


def test_hits_mass_conserved_each_round(spark):
    edges = spark.createDataFrame(
        [(1, 4), (2, 4), (2, 5), (3, 5), (4, 1)], "src long, dst long"
    )
    rows = graph.hits(edges, iters=2).collect()
    s = 10**9
    # L1 normalization: totals within div-truncation of scale
    assert abs(sum(r.hub for r in rows) - s) < len(rows)
    assert abs(sum(r.auth for r in rows) - s) < len(rows)


def test_hits_rejects_zero_iters(spark):
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        graph.hits(edges, iters=0)


def test_feature_prop_undirected_mean(spark):
    # 1-2, 2-3 path; feats 1:10, 2:20, 3:60
    # node 2 sees {1,3}: sum 70, mean 35; node 1 sees {2}: 20; node 3: 20
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    feats = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 60)], "node long, feat long"
    )
    out = {
        r.node: (r.n_nbrs, r.nbr_sum, r.nbr_mean_micro)
        for r in graph.feature_prop(edges, feats).collect()
    }
    assert out[2] == (2, 70, 35_000_000)
    assert out[1] == (1, 20, 20_000_000)
    assert out[3] == (1, 20, 20_000_000)


def test_feature_prop_directed_in_edges_only(spark):
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    feats = spark.createDataFrame([(1, 7), (2, 9)], "node long, feat long")
    out = {
        r.node: r.nbr_mean_micro
        for r in graph.feature_prop(edges, feats, directed=True).collect()
    }
    # only 2 receives a message (1 -> 2); 1 has no in-edges
    assert out == {2: 7_000_000}


def test_feature_prop_negative_feats_truncate_like_div(spark):
    # sum -7 over 2 neighbors: -7*1e6 div 2 truncates toward zero
    edges = spark.createDataFrame([(1, 3), (2, 3)], "src long, dst long")
    feats = spark.createDataFrame(
        [(1, -3), (2, -4), (3, 0)], "node long, feat long"
    )
    out = {
        r.node: r.nbr_mean_micro
        for r in graph.feature_prop(edges, feats, directed=True).collect()
    }
    assert out[3] == -3_500_000


def test_weighted_pagerank_heavy_edge_attracts_mass(spark):
    # star: 1 -> 2 (w 9), 1 -> 3 (w 1); symmetrized
    e = spark.createDataFrame(
        [(1, 2, 9), (1, 3, 1)], "src long, dst long, w long"
    )
    edges = e.unionByName(
        e.selectExpr("dst AS src", "src AS dst", "w")
    )
    out = {
        r.node: r.rank
        for r in graph.pagerank(edges, iters=3, weight_col="w").collect()
    }
    assert out[2] > out[3]  # the heavy edge carries 9x the mass
    assert out[1] > out[2]  # the hub still collects from both


def test_weighted_pagerank_uniform_weights_match_unweighted(spark):
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long"
    )
    ew = e.withColumn("w", F.lit(1))
    a = {r.node: r.rank for r in graph.pagerank(e, iters=2).collect()}
    b = {
        r.node: r.rank
        for r in graph.pagerank(ew, iters=2, weight_col="w").collect()
    }
    assert a == b


def test_modularity_two_cliques_strong(spark):
    # two triangles joined by one bridge edge: strong communities
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "id_a long, id_b long",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)], "node long, label long"
    )
    row = graph.modularity(e, labels).collect()[0]
    assert row.m == 7 and row.n_communities == 2 and row.intra_edges == 6
    # Q = (4*7*6 - (7^2 + 7^2)) / (4*49) = (168 - 98) / 196 = 0.357142
    assert row.q_micro == 357_142


def test_modularity_single_community_zero_by_identity(spark):
    # everything in one community: Q = (4m*m - (2m)^2) / 4m^2 = 0
    e = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "id_a long, id_b long")
    labels = spark.createDataFrame([(1, 9), (2, 9), (3, 9)], "node long, label long")
    assert graph.modularity(e, labels).collect()[0].q_micro == 0


def test_modularity_random_split_is_negative_or_zero(spark):
    # split a triangle across two communities: worse than random
    e = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "id_a long, id_b long")
    labels = spark.createDataFrame([(1, 1), (2, 2), (3, 1)], "node long, label long")
    assert graph.modularity(e, labels).collect()[0].q_micro < 0


def test_clustering_coefficient_triangle_and_star(spark):
    # triangle 1-2-3 (cc 1.0 each) + star center 4 with leaves 5,6 (cc 0)
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (4, 6)], "id_a long, id_b long"
    )
    out = {r.node: (r.degree, r.triangles, r.cc_ppm)
           for r in graph.clustering_coefficient(e).collect()}
    assert out[1] == (2, 1, 1_000_000)
    assert out[2] == (2, 1, 1_000_000)
    assert out[4] == (2, 0, 0)
    assert out[5] == (1, 0, 0)


def test_clustering_coefficient_half_closed(spark):
    # node 1 has neighbors 2,3,4; only (2,3) closed -> cc = 1/3
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3)], "id_a long, id_b long"
    )
    out = {r.node: r.cc_ppm for r in graph.clustering_coefficient(e).collect()}
    assert out[1] == 333_333


def test_degree_powerlaw_known_alpha(spark):
    # degrees: two nodes at d=2 (lm = ln1 = 0), one at d=8 (ln 4)
    # alpha = 1 + 3/ln(4) = 3.163953
    e_rows = [(100, i) for i in range(8)] + [(101, 100), (102, 100)]
    # node 100 degree: 8 leaves + 2 = 10... build explicitly instead:
    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)]          # triangle: all degree 2
        + [(9, k) for k in range(10, 18)],  # star: 9 has degree 8
        "id_a long, id_b long",
    )
    row = graph.degree_powerlaw(e, d_min=2).collect()[0]
    # qualifying: nodes 1,2,3 (d=2, ln 1 = 0) and 9 (d=8, ln 4)
    assert row.n_nodes == 4 and row.max_degree == 8
    import math
    expect = 1_000_000 + (4 * 10**12) // round(math.log(4.0) * 1e6)
    assert row.alpha_micro == expect


def test_degree_powerlaw_uniform_degrees_zero_sentinel(spark):
    # every node at exactly d_min: sum of logs is 0 -> sentinel 0
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "id_a long, id_b long")
    assert graph.degree_powerlaw(e, d_min=2).collect()[0].alpha_micro == 0
