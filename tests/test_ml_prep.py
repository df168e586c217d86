"""ML-prep operators: negative sampling (functions/sampling.py),
standardize + target_encode (functions/stats.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bytewax_spark.functions import sampling, stats
from tests import duckref
from tests.duckref import spark_rows


def _inter(spark):
    # user 1 interacted with items 0..7, user 2 with item 3 only
    rows = [(1, i) for i in range(8)] + [(2, 3)]
    return spark.createDataFrame(rows, "user bigint, item bigint")


def test_negative_samples_excludes_positives(spark):
    inter = _inter(spark)
    neg = sampling.negative_samples(inter, "user", "item", n_items=50, k=5).collect()
    pos = {(r["user"], r["item"]) for r in inter.collect()}
    got = {(r["user"], r["item"]) for r in neg}
    assert not (got & pos)
    by_user = {}
    for r in neg:
        by_user.setdefault(r["user"], []).append(r["neg_rank"])
    assert sorted(by_user[1]) == [1, 2, 3, 4, 5]
    assert sorted(by_user[2]) == [1, 2, 3, 4, 5]
    assert all(0 <= r["item"] < 50 for r in neg)


def test_negative_samples_deterministic_and_salted(spark):
    inter = _inter(spark)
    a = sorted(map(tuple, sampling.negative_samples(inter, "user", "item", 50, 3).collect()))
    b = sorted(map(tuple, sampling.negative_samples(inter, "user", "item", 50, 3).collect()))
    c = sorted(map(tuple, sampling.negative_samples(inter, "user", "item", 50, 3, salt="x").collect()))
    assert a == b
    assert a != c  # a different salt draws a different permutation


def test_negative_samples_no_duplicate_items_per_user(spark):
    inter = _inter(spark)
    neg = sampling.negative_samples(inter, "user", "item", n_items=10, k=6).collect()
    seen = set()
    for r in neg:
        key = (r["user"], r["item"])
        assert key not in seen
        seen.add(key)


def test_negative_samples_validates(spark):
    with pytest.raises(ValueError):
        sampling.negative_samples(_inter(spark), "user", "item", 0, 3)


def test_standardize_hand_computed(spark):
    # group g: 2, 4, 6 -> mean 4, population std sqrt(8/3)
    df = spark.createDataFrame(
        [("g", 2.0), ("g", 4.0), ("g", 6.0)], "k string, v double"
    )
    rows = {r["v"]: r["z"] for r in stats.standardize(df, ["k"], "v").collect()}
    import math

    std = math.sqrt(8.0 / 3.0)
    assert abs(rows[2.0] - (-2.0 / std)) < 1e-6
    assert rows[4.0] == 0.0
    assert abs(rows[6.0] - (2.0 / std)) < 1e-6


def test_standardize_degenerate_group_null(spark):
    df = spark.createDataFrame([("g", 5.0), ("g", 5.0)], "k string, v double")
    rows = stats.standardize(df, ["k"], "v").collect()
    assert all(r["z"] is None for r in rows)  # zero variance -> null, not inf


def test_target_encode_shrinks_rare_categories(spark):
    # category a: 100 rows of target 1.0; category b: 1 row of 0.0;
    # global mean ~ 100/101. With smoothing=20, b's encoding pulls
    # hard toward the global mean, a's stays near 1.0.
    rows = [("a", 1.0)] * 100 + [("b", 0.0)]
    df = spark.createDataFrame(rows, "c string, y double")
    got = {r["c"]: r for r in stats.target_encode(df, ["c"], "y", smoothing=20).collect()}
    gmean = 100.0 / 101.0
    te_b = (0.0 + 20 * gmean) / (1 + 20)
    te_a = (100.0 + 20 * gmean) / (100 + 20)
    assert abs(got["b"]["te"] - te_b) < 1e-6
    assert abs(got["a"]["te"] - te_a) < 1e-6
    assert got["a"]["n"] == 100 and got["b"]["n"] == 1


def test_target_encode_no_collect_in_plan(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    df = stats.target_encode(ev, ["event_type"], "value")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "EvalPython" not in plan


def test_winsorize_clamps_tails(spark):
    rows = [("g", float(v)) for v in range(1, 100)] + [("g", 10000.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    out = stats.winsorize(df, ["k"], "v", lower=0.05, upper=0.95).collect()
    vals = sorted(r["v_w"] for r in out)
    raw = sorted(r["v"] for r in out)
    assert raw[-1] == 10000.0
    assert vals[-1] < 100.0           # the wild tail got clamped
    assert vals[0] > 1.0              # so did the low tail
    assert len(out) == 100            # row count unchanged


def test_winsorize_validates(spark):
    df = spark.createDataFrame([("g", 1.0)], "k string, v double")
    with pytest.raises(ValueError):
        stats.winsorize(df, ["k"], "v", lower=0.9, upper=0.1)


def test_group_auc_perfect_and_random(spark):
    # perfect separation: all positives score above all negatives
    rows = [("p", 1, float(10 + i)) for i in range(5)] + [
        ("p", 0, float(i)) for i in range(5)
    ]
    # anti-perfect: positives score BELOW negatives
    rows += [("a", 1, float(i)) for i in range(5)] + [
        ("a", 0, float(10 + i)) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "k string, y int, s double")
    got = {r["k"]: r["auc"] for r in stats.group_auc(df, ["k"], "y", "s").collect()}
    assert got["p"] == 1.0 and got["a"] == 0.0


def test_group_auc_ties_half_credit(spark):
    # one positive and one negative with the SAME score -> AUC 0.5
    df = spark.createDataFrame(
        [("g", 1, 5.0), ("g", 0, 5.0)], "k string, y int, s double"
    )
    got = stats.group_auc(df, ["k"], "y", "s").collect()[0]
    assert got["auc"] == 0.5 and got["n_pos"] == 1 and got["n_neg"] == 1


def test_group_auc_single_class_null(spark):
    df = spark.createDataFrame([("g", 1, 1.0), ("g", 1, 2.0)], "k string, y int, s double")
    got = stats.group_auc(df, ["k"], "y", "s").collect()[0]
    assert got["auc"] is None


def test_group_auc_matches_sklearn_formula(spark):
    """Cross-check against a hand-rolled pairwise count on a messy
    tie-heavy case."""
    import itertools

    rows = [("g", y, float(s)) for y, s in
            [(1, 3), (0, 3), (1, 2), (0, 1), (1, 1), (0, 2), (1, 5), (0, 0)]]
    df = spark.createDataFrame(rows, "k string, y int, s double")
    pos = [s for _, y, s in rows if y == 1]
    neg = [s for _, y, s in rows if y == 0]
    u = sum(1.0 if p > n else 0.5 if p == n else 0.0 for p, n in itertools.product(pos, neg))
    want = round(u / (len(pos) * len(neg)), 6)
    got = stats.group_auc(df, ["k"], "y", "s").collect()[0]["auc"]
    assert got == want


def test_knn_label_agreement_planted_mislabel(spark):
    from bytewax_spark.functions.similarity import knn_label_agreement

    # two tight clusters; vec 99 sits in cluster A but carries label B
    a = [1.0, 0.0, 0.0]
    b = [0.0, 1.0, 0.0]
    rows = (
        [(i, [a[0] + 0.001 * i, a[1], a[2]], 0) for i in range(6)]
        + [(10 + i, [b[0], b[1] + 0.001 * i, b[2]], 1) for i in range(6)]
        + [(99, [0.999, 0.001, 0.0], 1)]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["vec_id"]: r for r in knn_label_agreement(
        df, "embedding", "vec_id", "label", k=5
    ).collect()}
    # the mislabeled point's neighbors are all label 0 -> agreement 0
    assert out[99]["agree_ppm"] == 0
    # a core cluster-A point agrees with most of its k=5 neighborhood
    assert out[0]["agree_ppm"] >= 800_000
    assert all(r["n_nbrs"] == 5 for r in out.values())


def test_knn_label_agreement_excludes_self(spark):
    from bytewax_spark.functions.similarity import knn_label_agreement

    rows = [(i, [float(i), 1.0], i % 2) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = knn_label_agreement(df, "embedding", "vec_id", "label", k=2).collect()
    assert all(r["n_nbrs"] == 2 for r in out)


def test_ranking_eval_perfect_and_disjoint(spark):
    from bytewax_spark.functions.similarity import ranking_eval

    truth = spark.createDataFrame(
        [(1, i, i) for i in range(1, 6)], "probe_id long, id long, rank long"
    )
    perfect = ranking_eval(truth, truth, k=5).collect()[0]
    assert perfect.mean_recall_ppm == 1_000_000
    assert perfect.mean_ndcg_ppm == 1_000_000
    other = spark.createDataFrame(
        [(1, 100 + i, i) for i in range(1, 6)], "probe_id long, id long, rank long"
    )
    zero = ranking_eval(truth, other, k=5).collect()[0]
    assert zero.mean_recall_ppm == 0 and zero.mean_ndcg_ppm == 0


def test_ranking_eval_partial_overlap_hand_computed(spark):
    from bytewax_spark.functions.similarity import ranking_eval, DCG_W_MICRO

    # truth top-3 = {10, 11, 12}; approx = [10 (r1), 99 (r2), 11 (r3)]
    truth = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)], "probe_id long, id long, rank long"
    )
    approx = spark.createDataFrame(
        [(1, 10, 1), (1, 99, 2), (1, 11, 3)], "probe_id long, id long, rank long"
    )
    row = ranking_eval(truth, approx, k=3).collect()[0]
    assert row.mean_recall_ppm == 666_666
    dcg = DCG_W_MICRO[0] + DCG_W_MICRO[2]   # hits at approx ranks 1 and 3
    idcg = sum(DCG_W_MICRO[:3])  # standard nDCG@k: FULL ideal prefix
    assert row.mean_ndcg_ppm == (dcg * 1_000_000) // idcg


def test_ranking_eval_probe_missed_entirely_counts(spark):
    from bytewax_spark.functions.similarity import ranking_eval

    truth = spark.createDataFrame(
        [(1, 10, 1), (2, 20, 1)], "probe_id long, id long, rank long"
    )
    approx = spark.createDataFrame(
        [(1, 10, 1)], "probe_id long, id long, rank long"
    )
    row = ranking_eval(truth, approx, k=1).collect()[0]
    assert row.n_queries == 2
    assert row.mean_recall_ppm == 500_000


def test_knn_agreement_duplicate_vectors_keep_exactly_k_neighbors(spark):
    """Self-exclusion happens BEFORE the top-k cut: with duplicate
    vectors tied at cosine 1.0 the (cosine desc, id asc) tiebreak used
    to push the probe's own row out of a top-(k+1) fetch and leave k+1
    foreign neighbors."""
    from bytewax_spark.functions.similarity import knn_label_agreement

    # ids 1..4 all identical vectors; probe id=4 sorts LAST among the
    # cosine-1.0 ties, so a post-cut filter on top-(k+1) would keep
    # k+1 = 3 foreign rows. id=5 is a decoy far away.
    rows = [
        (1, [1.0, 0.0], "a"),
        (2, [1.0, 0.0], "a"),
        (3, [1.0, 0.0], "b"),
        (4, [1.0, 0.0], "a"),
        (5, [0.0, 1.0], "b"),
    ]
    df = spark.createDataFrame(
        rows, "id long, vec array<double>, label string"
    )
    probes = df.filter("id = 4")
    out = knn_label_agreement(
        df, "vec", "id", "label", k=2, probes=probes
    ).collect()
    assert len(out) == 1
    r = out[0]
    # exactly k neighbors (ids 1 and 2 by the tiebreak), both label 'a'
    assert r.n_nbrs == 2 and r.n_same == 2 and r.agree_ppm == 1_000_000


@pytest.mark.parametrize("label_type", ["string", "int"])
def test_knn_agreement_matches_duckdb_reference(spark, label_type):
    """Verdict rows equal the registry oracle's SQL over a corpus with
    NULL probe and neighbour labels, NULL and zero-norm vectors, and
    duplicate vectors tied at cosine 1.0. A NULL label agrees with
    nothing, so its probe gets n_same = 0, never NULL."""
    from bytewax_spark.functions.similarity import knn_label_agreement

    labels = ["a", "b", None] if label_type == "string" else [1, 2, None]
    rows = [
        (1, [1.0, 0.0, 0.0], labels[2]),  # NULL-label probe in a tied group
        (2, [1.0, 0.0, 0.0], labels[0]),
        (3, [1.0, 0.0, 0.0], labels[2]),
        (4, [1.0, 0.0, 0.0], labels[0]),
        (5, [0.9, 0.1, 0.0], labels[1]),
        (6, [0.0, 1.0, 0.0], labels[1]),
        (7, [0.1, 0.9, 0.0], labels[2]),
        (8, None, labels[0]),  # no vector: neither audited nor a neighbour
        (9, [0.0, 0.0, 0.0], labels[1]),  # zero norm: likewise
        (10, [0.0, 0.5, 0.5], labels[0]),
    ]
    df = spark.createDataFrame(
        rows, f"vec_id long, embedding array<double>, label {label_type}"
    )
    probes = df.filter("vec_id IN (1, 3, 4, 6, 7, 8, 9)")
    got = spark_rows(
        knn_label_agreement(df, "embedding", "vec_id", "label", k=3, probes=probes)
    )
    want = duckref.knn_agreement(df, "embedding", "vec_id", "label", probes, 3)
    assert got == want
    assert len(got[1]) == 5


def test_knn_lsh_arrow_and_sql_impls_agree(spark):
    """The bucket kernel must return DuckDB SQL's verdict rows on a
    corpus with planted structure (clusters + a mislabeled point +
    buckets smaller than k+1)."""
    import random

    from bytewax_spark.functions.similarity import knn_label_agreement_lsh

    rng = random.Random(7)
    rows = []
    for i in range(120):
        base = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0, 0.0]
        vec = [x + rng.uniform(-0.05, 0.05) for x in base]
        rows.append((i, vec, i % 2))
    rows.append((999, [1.0, 0.001, 0.0, 0.0], 1))  # planted mislabel
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    kw = dict(k=5, n_planes=3, dims=4, seed=11)
    got = spark_rows(
        knn_label_agreement_lsh(df, "embedding", "vec_id", "label", **kw)
    )
    want = duckref.knn_lsh(
        duckref.with_bucket(df, 4, 3, 11), "embedding", "vec_id", "label", "bucket", 5
    )
    assert got == want
    assert len(got[1]) > 0


def test_knn_lsh_null_labels_agree_with_nothing(spark):
    """String labels with NULL probes and NULL neighbours: a NULL label
    matches no label, NULL included — the registry oracle's
    ``CASE WHEN nlab = plab``. Numpy's object ``==`` counted two NULLs
    as agreeing."""
    import random

    from bytewax_spark.functions.similarity import knn_label_agreement_lsh

    rng = random.Random(3)
    labels = {0: ["x", "x", "x", None, "x", "x"], 1: [None, None, None, "y", None, "y"]}
    rows = []
    for c, labs in labels.items():
        base = [1.0, 0.0, 0.0, 0.0] if c == 0 else [0.0, 1.0, 0.0, 0.0]
        for j, lab in enumerate(labs):
            vec = [x + rng.uniform(-0.05, 0.05) for x in base]
            rows.append((c * 100 + j, vec, lab))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    kw = dict(k=3, n_planes=2, dims=4, seed=11)
    got = spark_rows(
        knn_label_agreement_lsh(df, "embedding", "vec_id", "label", **kw)
    )
    want = duckref.knn_lsh(
        duckref.with_bucket(df, 4, 2, 11), "embedding", "vec_id", "label", "bucket", 3
    )
    assert got == want
    # columns sort as (agree_ppm, label, n_nbrs, n_same, vec_id); NULL
    # normalizes to "∅". Every NULL-label probe here has NULL
    # neighbours, and agrees with none of them.
    null_rows = [r for r in got[1] if r[1] == "∅"]
    assert len(null_rows) == 5 and all(r[3] == "0" for r in null_rows)


def test_knn_lsh_drops_null_and_zero_norm_vectors(spark):
    """A NULL or zero-norm vector has no cosine: the row is dropped
    before scoring, so it gets no verdict and is nobody's neighbor (a
    NULL vector used to fail the kernel; a zero-norm one got a verdict
    and was counted as a neighbor)."""
    from bytewax_spark.functions.similarity import knn_label_agreement_lsh

    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.9, 0.1, 0.0], 0),
        (3, None, 1),
        (4, [0.0, 0.0, 0.0], 1),
        (5, [0.8, 0.2, 0.1], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    # one plane: every nonzero vector here lies on the same side, so
    # NULL, zero and real vectors would all share bucket 0
    kw = dict(k=2, n_planes=1, dims=3, seed=11)
    out = knn_label_agreement_lsh(df, "embedding", "vec_id", "label", **kw)
    want = duckref.knn_lsh(
        duckref.with_bucket(df, 3, 1, 11), "embedding", "vec_id", "label", "bucket", 2
    )
    assert spark_rows(out) == want
    assert {r["vec_id"] for r in out.collect()} <= {1, 2, 5}


def test_knn_lsh_small_bucket_emits_partial_neighborhood(spark):
    from bytewax_spark.functions.similarity import knn_label_agreement_lsh

    # 3 near-identical vectors land in one bucket; k=5 > bucket-1 so
    # each row reports n_nbrs=2; a lone far vector in another bucket
    # emits nothing
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.99, 0.01], 0),
        (3, [0.98, 0.02], 1),
        (9, [-1.0, -0.5], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r["vec_id"]: r
        for r in knn_label_agreement_lsh(
            df, "embedding", "vec_id", "label", k=5, n_planes=2, dims=2, seed=3
        ).collect()
    }
    if 9 in out:  # only present if it shares a bucket, then has nbrs
        assert out[9]["n_nbrs"] >= 1
    close = [v for k2, v in out.items() if k2 in (1, 2, 3)]
    assert close, "clustered vectors must be audited"
    for r in close:
        assert 1 <= r["n_nbrs"] <= 2


def test_cosine_topk_batch_arrow_sql_parity(spark):
    """The scatter kernel must return DuckDB SQL's (probe_id, id,
    cosine) rows — including the pre-cut self-exclusion and
    duplicate-vector ties broken by id."""
    import random

    from bytewax_spark.functions.similarity import cosine_topk_batch

    rng = random.Random(13)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(6)], i % 3)
        for i in range(60)
    ]
    rows.append((100, list(rows[0][1]), 0))  # exact duplicate vector
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    probes = df.limit(9).select(
        F.col("vec_id").alias("pid"), F.col("embedding").alias("pvec")
    )
    for excl in (False, True):
        got = spark_rows(
            cosine_topk_batch(
                df, "embedding", "vec_id", probes, "pid", "pvec",
                k=4, exclude_same_id=excl,
            )
        )
        want = duckref.topk_batch(
            df, "embedding", "vec_id", probes, "pid", "pvec", 4, excl
        )
        assert got == want, f"exclude_same_id={excl}"
        assert len(got[1]) == 9 * 4


def test_cosine_topk_batch_drops_null_and_zero_norm_vectors(spark):
    """A NULL or zero-norm vector, on either side, has no cosine: the
    probe or corpus row is dropped before scoring (a NULL probe used to
    fail on the driver, a NULL corpus vector in the kernel)."""
    from bytewax_spark.functions.similarity import cosine_topk_batch

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, None),
        (4, [0.0, 0.0, 0.0]),
        (5, [0.8, 0.2, 0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probes = df.select(
        F.col("vec_id").alias("pid"), F.col("embedding").alias("pvec")
    )
    for excl in (False, True):
        out = cosine_topk_batch(
            df, "embedding", "vec_id", probes, "pid", "pvec",
            k=2, exclude_same_id=excl,
        )
        want = duckref.topk_batch(
            df, "embedding", "vec_id", probes, "pid", "pvec", 2, excl
        )
        assert spark_rows(out) == want, f"exclude_same_id={excl}"
        assert {r["probe_id"] for r in out.collect()} == {1, 2, 5}


def test_knn_lsh_arrow_block_chunked_degenerate_bucket(spark, monkeypatch):
    """Skew guard: a mass-duplicate corpus — every vector identical, so
    ALL rows hash into one LSH bucket — must not require one O(n^2)
    dense matrix in a single task. With the kernel's block budget
    shrunk to a few rows, the chunked kernel must still produce
    exactly DuckDB SQL's verdict rows."""
    from bytewax_spark.functions import similarity as sim

    monkeypatch.setattr(sim, "_KERNEL_BLOCK_BYTES", 256)
    n = 20
    rows = [(i, [0.6, 0.8, 0.0, 0.0], i % 3) for i in range(n)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    kw = dict(k=5, n_planes=2, dims=4, seed=11)
    got = spark_rows(
        sim.knn_label_agreement_lsh(df, "embedding", "vec_id", "label", **kw)
    )
    want = duckref.knn_lsh(
        duckref.with_bucket(df, 4, 2, 11), "embedding", "vec_id", "label", "bucket", 5
    )
    assert got == want
    assert len(got[1]) == n  # every row audited despite the degenerate bucket


def test_arrow_kernels_preserve_string_ids(spark):
    """The kernels' output schemas derive from the INPUT id types —
    a hardcoded `long` turned string-id callers into runtime task
    failures. Rows match DuckDB SQL on string ids."""
    import random

    from bytewax_spark.functions.similarity import (
        cosine_topk_batch,
        knn_label_agreement_lsh,
    )

    rng = random.Random(3)
    rows = [
        (f"doc-{i:03d}", [rng.uniform(-1, 1) for _ in range(4)], f"lab{i % 2}")
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "vec_id string, embedding array<float>, label string"
    )
    probes = df.limit(4).select(
        F.col("vec_id").alias("pid"), F.col("embedding").alias("pvec")
    )
    for excl in (False, True):
        out = cosine_topk_batch(
            df, "embedding", "vec_id", probes, "pid", "pvec",
            k=3, exclude_same_id=excl,
        )
        want = duckref.topk_batch(
            df, "embedding", "vec_id", probes, "pid", "pvec", 3, excl
        )
        assert spark_rows(out) == want, f"exclude_same_id={excl}"
        assert all(
            isinstance(r["probe_id"], str) and isinstance(r["vec_id"], str)
            for r in out.collect()
        )
    kw = dict(k=3, n_planes=2, dims=4, seed=5)
    out = knn_label_agreement_lsh(df, "embedding", "vec_id", "label", **kw)
    want = duckref.knn_lsh(
        duckref.with_bucket(df, 4, 2, 5), "embedding", "vec_id", "label", "bucket", 3
    )
    assert spark_rows(out) == want
    assert all(isinstance(r["vec_id"], str) for r in out.collect())


def test_round6_half_up_is_half_away_from_zero_not_bankers():
    """The kernels' shared rounding rule must be HALF-AWAY-FROM-ZERO
    (what Spark F.round and DuckDB ROUND apply) — np.round is banker's
    (half-to-even) and would flip threshold pairs / top-k ties landing
    exactly on a .5 boundary at 6 dp. The probe values are exact .5
    ties in the scaled float64 space (v * 1e6 == N + 0.5 exactly)."""
    import numpy as np

    from bytewax_spark.functions.similarity import round6_half_up

    ties = np.array([5e-07, 1.5e-06, 2.5e-06, 3.5e-06, 4.5e-06])
    got = round6_half_up(ties)
    want = np.array([1e-06, 2e-06, 3e-06, 4e-06, 5e-06])
    assert np.array_equal(got, want), got
    # banker's would collapse 1.5/2.5 -> 2 and 3.5/4.5 -> 4
    assert not np.array_equal(np.round(ties, 6), want)
    # sign-aware: negatives round away from zero symmetrically
    assert np.array_equal(round6_half_up(-ties), -want)
    # non-tie values are plain rounding
    assert np.array_equal(
        round6_half_up(np.array([0.1234561, -0.9999994])),
        np.array([0.123456, -0.999999]),
    )
