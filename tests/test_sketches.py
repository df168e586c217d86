"""Sketch family (functions/sketches.py: count-min, HyperLogLog,
merge helpers) and text-statistics operators (functions/text.py: PMI
collocations, skip-grams, char entropy)."""

from __future__ import annotations

import pytest

import math

from pyspark.sql import functions as F

from bytewax_spark.functions import sketches as sk
from bytewax_spark.functions import text as tx


def load(spark, sf_dir: str, table: str):
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def test_countmin_overestimates_never_under(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    sketch = sk.countmin_build(ev, "user_id", width=128, depth=4)
    probes = ev.select("user_id").distinct()
    est = sk.countmin_estimate(sketch, probes, "user_id", width=128, depth=4)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact"))
    both = exact.join(est, "user_id").collect()
    assert both, "no keys"
    assert all(r["est"] >= r["exact"] for r in both)


def test_countmin_output_bounded_by_depth_width(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    sketch = sk.countmin_build(ev, "user_id", width=32, depth=4)
    rows = sketch.collect()
    assert len(rows) <= 4 * 32
    assert {r["depth"] for r in rows} <= {0, 1, 2, 3}
    assert all(0 <= r["bucket"] < 32 for r in rows)
    # total mass per depth row == total input rows (each row increments
    # exactly one counter per depth)
    n = ev.count()
    per_depth = {}
    for r in rows:
        per_depth[r["depth"]] = per_depth.get(r["depth"], 0) + r["cnt"]
    assert all(v == n for v in per_depth.values())


def test_countmin_exact_when_no_collisions(spark):
    # 8 distinct keys in a 4096-wide sketch: collisions are possible
    # but md5 on this fixed key set happens to be collision-free; the
    # estimate must then be exactly the true count
    df = spark.createDataFrame(
        [(i % 8,) for i in range(800)], "user_id int"
    )
    sketch = sk.countmin_build(df, "user_id", width=4096, depth=4)
    probes = df.select("user_id").distinct()
    est = {
        r["user_id"]: r["est"]
        for r in sk.countmin_estimate(
            sketch, probes, "user_id", width=4096, depth=4
        ).collect()
    }
    assert est == {i: 100 for i in range(8)}


def test_countmin_weighted_sums(spark):
    df = spark.createDataFrame(
        [("a", 5), ("a", 7), ("b", 1)], "k string, w int"
    )
    sketch = sk.countmin_build(df, "k", width=1024, depth=2, weight_col="w")
    total = sum(r["cnt"] for r in sketch.collect())
    assert total == 2 * (5 + 7 + 1)


def test_countmin_absent_key_estimates_low(spark):
    df = spark.createDataFrame([("x",)] * 10, "k string")
    sketch = sk.countmin_build(df, "k", width=1024, depth=4)
    probes = spark.createDataFrame([("never-seen",)], "k string")
    est = sk.countmin_estimate(sketch, probes, "k", width=1024, depth=4).collect()
    # with 1 distinct stored key and 4 independent rows, at least one
    # of the probe's 4 counters is empty -> est == 0
    assert est[0]["est"] == 0


def test_pmi_matches_reference_computation(spark):
    texts = [
        "new york " * 6,
        "the cat the dog the cow new york " * 3,
    ] * 3
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    out = tx.pmi_collocations(docs, "text", min_count=5, k=5).collect()

    # reference computation in plain Python
    uni: dict[str, int] = {}
    bi: dict[tuple[str, str], int] = {}
    for t in texts:
        toks = t.split()
        for w in toks:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(toks, toks[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    n = sum(uni.values())
    want = sorted(
        (
            (
                round(math.log((c12 * n) / (uni[a] * uni[b])) * 1_000_000),
                a,
                b,
                c12,
            )
            for (a, b), c12 in bi.items()
            if c12 >= 5
        ),
        key=lambda r: (-r[0], r[1], r[2]),
    )[:5]
    got = [(r["pmi_micro"], r["w1"], r["w2"], r["c12"]) for r in out]
    assert got == want


def test_pmi_min_count_filters_rare_pairs(spark):
    docs = spark.createDataFrame(
        [("alpha beta " * 10,), ("rare pair",)], "text string"
    )
    out = tx.pmi_collocations(docs, "text", min_count=5, k=100).collect()
    pairs = {(r["w1"], r["w2"]) for r in out}
    assert ("rare", "pair") not in pairs
    assert ("alpha", "beta") in pairs


def test_hll_estimate_within_error_bound(spark):
    # 20_000 distinct keys; p=10 -> expected relative error ~1.04/sqrt(1024) ≈ 3.3%
    df = spark.range(20_000).select(F.col("id").alias("k"))
    est = sk.hll_estimate(sk.hll_build(df, "k", p=10), p=10).collect()[0]["est"]
    assert abs(est - 20_000) / 20_000 < 0.10


def test_hll_small_range_linear_counting(spark):
    # far fewer keys than registers -> linear-counting branch, which is
    # very accurate at this occupancy
    df = spark.range(50).select(F.col("id").alias("k"))
    est = sk.hll_estimate(sk.hll_build(df, "k", p=10), p=10).collect()[0]["est"]
    assert abs(est - 50) <= 3


def test_hll_registers_bounded_and_mergeable(spark):
    a = spark.range(0, 5_000).select(F.col("id").alias("k"))
    b = spark.range(2_500, 9_000).select(F.col("id").alias("k"))
    ra, rb = sk.hll_build(a, "k", p=8), sk.hll_build(b, "k", p=8)
    assert ra.count() <= 256 and rb.count() <= 256
    # merging register tables (max per idx) == building over the union
    merged = (
        ra.unionByName(rb).groupBy("idx").agg(F.max("maxrank").alias("maxrank"))
    )
    direct = sk.hll_build(a.unionByName(b), "k", p=8)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_hll_duplicates_do_not_move_estimate(spark):
    once = spark.range(1_000).select(F.col("id").alias("k"))
    many = once.unionByName(once).unionByName(once)
    e1 = sk.hll_estimate(sk.hll_build(once, "k"), p=10).collect()[0]["est"]
    e3 = sk.hll_estimate(sk.hll_build(many, "k"), p=10).collect()[0]["est"]
    assert e1 == e3


def test_hll_grouped_build_merges_to_global(spark):
    df = spark.createDataFrame(
        [("s1", i) for i in range(400)] + [("s2", i) for i in range(200, 600)],
        "src string, k int",
    )
    shards = sk.hll_build(df, "k", p=8, group_cols=["src"])
    assert shards.select("src").distinct().count() == 2
    merged = shards.groupBy("idx").agg(F.max("maxrank").alias("maxrank"))
    direct = sk.hll_build(df, "k", p=8)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_char_entropy_known_values(spark):
    df = spark.createDataFrame(
        [("aaaa",), ("ab",), ("",), ("abcd",)], "text string"
    )
    got = [
        r["e"]
        for r in df.select(tx.char_entropy("text").alias("e")).collect()
    ]
    # 'aaaa' -> 0 bits; 'ab' -> 1 bit; '' -> 0; 'abcd' -> 2 bits
    assert got == [0, 1_000_000, 0, 2_000_000]


def test_skipgram_pairs_window2_reference(spark):
    texts = ["a b c a b c a b c a b c a b c"]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {
        (r["w1"], r["w2"]): r["cnt"]
        for r in tx.skipgram_pairs(docs, "text", window=2, min_count=1, k=100).collect()
    }
    want: dict[tuple[str, str], int] = {}
    toks = texts[0].split()
    for d in (1, 2):
        for a, b in zip(toks, toks[d:]):
            want[(a, b)] = want.get((a, b), 0) + 1
    assert got == want


def test_countmin_merge_equals_single_build(spark):
    a = spark.createDataFrame([("x",)] * 7 + [("y",)] * 2, "k string")
    b = spark.createDataFrame([("x",)] * 3 + [("z",)] * 5, "k string")
    merged = sk.countmin_merge(
        sk.countmin_build(a, "k", width=64, depth=4),
        sk.countmin_build(b, "k", width=64, depth=4),
    )
    direct = sk.countmin_build(a.unionByName(b), "k", width=64, depth=4)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_hll_merge_helper_matches_manual(spark):
    a = spark.range(100).select(F.col("id").alias("k"))
    b = spark.range(50, 180).select(F.col("id").alias("k"))
    m = sk.hll_merge(sk.hll_build(a, "k", p=8), sk.hll_build(b, "k", p=8))
    d = sk.hll_build(a.unionByName(b), "k", p=8)
    assert sorted(map(tuple, m.collect())) == sorted(map(tuple, d.collect()))


def test_histogram_conserves_mass_and_merges(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    h = sk.histogram_build(ev, "value", lo=0.0, hi=1000.0, bins=32)
    rows = h.collect()
    assert len(rows) <= 32
    assert sum(r["cnt"] for r in rows) == ev.count()
    # shard merge == direct build (counter addition via countmin_merge
    # shape: same (bin, cnt) schema, groupBy-sum)
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    merged = (
        sk.histogram_build(a, "value", 0.0, 1000.0, 32)
        .unionByName(sk.histogram_build(b, "value", 0.0, 1000.0, 32))
        .groupBy("bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, rows))


def test_histogram_quantile_within_bin_width(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    hist = sk.histogram_build(ev, "value", lo=0.0, hi=1000.0, bins=128)
    est = (
        sk.histogram_quantile(hist, 0.5, lo=0.0, hi=1000.0, bins=128).collect()[0][
            "est_micro"
        ]
        / 1e6
    )
    exact = ev.agg(
        F.expr("percentile(value, 0.5)").alias("p")
    ).collect()[0]["p"]
    assert abs(est - exact) <= 1000.0 / 128 + 1e-9


def test_histogram_clamps_out_of_range(spark):
    df = spark.createDataFrame([(-5.0,), (0.0,), (999.0,), (2000.0,)], "value double")
    rows = {
        r["bin"]: r["cnt"]
        for r in sk.histogram_build(df, "value", 0.0, 1000.0, 10).collect()
    }
    assert rows[0] == 2  # -5 clamps down into bin 0
    assert rows[9] == 2  # 999 and 2000 in the top bin


def test_hll_estimate_grouped_matches_per_group_direct(spark):
    df = spark.createDataFrame(
        [("g1", i) for i in range(500)] + [("g2", i) for i in range(80)],
        "g string, k int",
    )
    regs = sk.hll_build(df, "k", p=9, group_cols=["g"])
    grouped = {
        r["g"]: r["est"]
        for r in sk.hll_estimate_grouped(regs, ["g"], p=9).collect()
    }
    for g in ("g1", "g2"):
        sub = df.filter(F.col("g") == g)
        direct = sk.hll_estimate(sk.hll_build(sub, "k", p=9), p=9).collect()[0]["est"]
        assert grouped[g] == direct


# ---------------------------------------------------------------- KMV


def _py_hash64(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_kmv_build_is_bottom_k_of_md5_hashes(spark):
    keys = [f"u{i}" for i in range(200)]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = sk.kmv_build(df, "k", k=16).collect()
    expect = sorted(_py_hash64(k) for k in set(keys))[:16]
    assert [r["h"] for r in sorted(got, key=lambda r: r["rk"])] == expect
    assert [r["rk"] for r in sorted(got, key=lambda r: r["rk"])] == list(range(1, 17))


def test_kmv_prefilter_bits_invariant(spark):
    df = spark.createDataFrame([(f"x{i}",) for i in range(300)], "k string")
    a = {(r["rk"], r["h"]) for r in sk.kmv_build(df, "k", k=32, prefilter_bits=4).collect()}
    b = {(r["rk"], r["h"]) for r in sk.kmv_build(df, "k", k=32, prefilter_bits=14).collect()}
    assert a == b


@pytest.mark.slow
def test_kmv_merge_equals_direct_union_build(spark):
    left = spark.createDataFrame([(f"a{i}",) for i in range(80)], "k string")
    right = spark.createDataFrame([(f"b{i}",) for i in range(80)], "k string")
    merged = sk.kmv_merge(
        sk.kmv_build(left, "k", k=24),
        sk.kmv_build(right, "k", k=24),
        k=24,
    )
    direct = sk.kmv_build(left.unionByName(right), "k", k=24)
    assert {(r["rk"], r["h"]) for r in merged.collect()} == {
        (r["rk"], r["h"]) for r in direct.collect()
    }


def test_kmv_estimate_exact_below_k(spark):
    df = spark.createDataFrame([(f"k{i}",) for i in range(10)], "k string")
    s = sk.kmv_build(df, "k", k=64)
    assert sk.kmv_estimate(s, k=64).collect()[0]["est"] == 10


def test_kmv_estimate_within_relative_error(spark):
    n = 2000
    df = spark.createDataFrame([(f"v{i}",) for i in range(n)], "k string")
    est = sk.kmv_estimate(sk.kmv_build(df, "k", k=128), k=128).collect()[0]["est"]
    assert abs(est - n) / n < 0.3  # ~1/sqrt(k-2) ≈ 9% std err


@pytest.mark.slow
def test_kmv_jaccard_identical_and_disjoint(spark):
    a = spark.createDataFrame([(f"s{i}",) for i in range(100)], "k string")
    b = spark.createDataFrame([(f"t{i}",) for i in range(100)], "k string")
    sa = sk.kmv_build(a, "k", k=32)
    same = sk.kmv_jaccard(sa, sk.kmv_build(a, "k", k=32), k=32).collect()[0]
    assert same["jaccard_micro"] == 1000000
    disj = sk.kmv_jaccard(sa, sk.kmv_build(b, "k", k=32), k=32).collect()[0]
    assert disj["matches"] == 0 and disj["jaccard_micro"] == 0


def test_kmv_grouped_bottom_k_per_group(spark):
    rows = [(g, f"{g}-{i}") for g in ("x", "y") for i in range(50)]
    df = spark.createDataFrame(rows, "g string, k string")
    got = sk.kmv_build(df, "k", k=8, group_cols=["g"]).collect()
    by_g = {}
    for r in got:
        by_g.setdefault(r["g"], []).append((r["rk"], r["h"]))
    for g in ("x", "y"):
        expect = sorted(_py_hash64(f"{g}-{i}") for i in range(50))[:8]
        assert [h for _, h in sorted(by_g[g])] == expect


def test_kmv_overlap_matrix_exact_below_k(spark):
    # three groups with known overlaps, all smaller than k -> the
    # sketch is the full hash set and the matrix is EXACT Jaccard
    rows = (
        [("a", f"k{i}") for i in range(20)]
        + [("b", f"k{i}") for i in range(10, 30)]  # |a ∩ b| = 10, |a ∪ b| = 30
        + [("c", f"z{i}") for i in range(5)]  # disjoint from both
    )
    df = spark.createDataFrame(rows, "g string, k string")
    shards = sk.kmv_build(df, "k", k=64, group_cols=["g"])
    got = {
        (r["g_a"], r["g_b"]): (r["matches"], r["union_k"], r["jaccard_micro"])
        for r in sk.kmv_overlap_matrix(shards, "g", k=64).collect()
    }
    assert got[("a", "b")] == (10, 30, 333333)
    assert got[("a", "c")] == (0, 25, 0)
    assert got[("b", "c")] == (0, 25, 0)


def test_kmv_overlap_matrix_truncates_union_at_k(spark):
    # identical groups larger than k: union sketch holds exactly k
    # hashes, every one present in both -> jaccard 1.0
    rows = [(g, f"k{i}") for g in ("x", "y") for i in range(100)]
    df = spark.createDataFrame(rows, "g string, k string")
    shards = sk.kmv_build(df, "k", k=16, group_cols=["g"])
    out = sk.kmv_overlap_matrix(shards, "g", k=16).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["g_a"], r["g_b"]) == ("x", "y")
    assert r["union_k"] == 16 and r["matches"] == 16
    assert r["jaccard_micro"] == 1000000


def test_bag_shingles_counts_occurrences(spark):
    from bytewax_spark.functions.text import bag_shingles

    df = spark.createDataFrame([("a a b",), ("",)], "text string")
    got = [r["s"] for r in df.select(bag_shingles("text").alias("s")).collect()]
    assert got[0] == ["a#1", "a#2", "b#1"]
    assert got[1] == []


@pytest.mark.slow
def test_minhash_bag_distinguishes_repetition(spark):
    # same vocabulary, different repetition profile: set-based Jaccard
    # is 1.0, multiset Jaccard is 2/6 — the bag pipeline must report
    # the multiset value
    from bytewax_spark.functions import dedup as dd
    from bytewax_spark.functions.text import bag_shingles

    # bags: {x#1..3, y#1} vs {x#1..3, y#1, z#1} -> multiset J = 4/5
    # (set-of-token Jaccard would be 2/3; the bag value is what must
    # come out). High overlap so the LSH bands collide.
    df = spark.createDataFrame(
        [(1, "x x x y"), (2, "x x x y z")], "doc_id long, text string"
    )
    out = dd.minhash_lsh_verified_pairs(
        df, "text", "doc_id", threshold=0.0, shingler=bag_shingles
    ).collect()
    assert len(out) == 1
    assert abs(out[0]["jaccard"] - 0.8) < 1e-9


def test_moments_merge_equals_direct_build(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    full = sk.moments_build(ev, "value", 0.0, 512.0, k=4)
    a = sk.moments_build(ev.filter(F.col("event_id") % 2 == 0), "value", 0.0, 512.0, k=4)
    b = sk.moments_build(ev.filter(F.col("event_id") % 2 == 1), "value", 0.0, 512.0, k=4)
    assert sk.moments_merge(a, b).collect() == full.collect()


def test_moments_quantiles_accuracy(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    m = sk.moments_build(ev, "value", 0.0, 512.0, k=4)
    qs = [0.1, 0.25, 0.5, 0.75, 0.9]
    est = {
        r["q_micro"]: r["est_micro"] / 1e6
        for r in sk.moments_quantiles(m, qs, 0.0, 512.0, k=4).collect()
    }
    exact = ev.selectExpr(
        "percentile(value, array(0.1,0.25,0.5,0.75,0.9)) p"
    ).collect()[0]["p"]
    for q, true in zip(qs, exact):
        got = est[int(q * 1_000_000)]
        # maxent reconstruction: within 1.5% of the [0,512] range
        assert abs(got - true) <= 0.015 * 512.0, (q, got, true)


def test_moments_grouped_build_one_row_per_group(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    m = sk.moments_build(ev, "value", 0.0, 512.0, k=4, group_cols=["event_type"])
    n_types = ev.select("event_type").distinct().count()
    rows = m.collect()
    assert len(rows) == n_types
    assert sum(r["n"] for r in rows) == ev.count()


def test_moments_quantiles_uniform(spark):
    # uniform integers 0..999: every quantile is ~q*1000
    df = spark.range(1000).selectExpr("cast(id as double) v")
    m = sk.moments_build(df, "v", 0.0, 1000.0, k=4)
    est = {
        r["q_micro"]: r["est_micro"] / 1e6
        for r in sk.moments_quantiles(m, [0.25, 0.5, 0.75], 0.0, 1000.0, k=4).collect()
    }
    assert abs(est[250000] - 250) < 15
    assert abs(est[500000] - 500) < 15
    assert abs(est[750000] - 750) < 15


def test_moments_scale_bits_headroom(spark):
    # the largest power sum must fit decimal(38,0) at 1e12 rows
    for k in (1, 2, 4, 6, 8):
        b = sk.moments_scale_bits(k)
        assert (1 << (b * k)) * 10**12 < 10**38


def test_moments_quantiles_grouped_accuracy(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    m = sk.moments_build(ev, "value", 0.0, 512.0, k=4, group_cols=["event_type"])
    got = {}
    for r in sk.moments_quantiles_grouped(
        m, ["event_type"], [0.5], 0.0, 512.0, k=4
    ).collect():
        got[r["event_type"]] = r["est_micro"] / 1e6
    exact = {
        r["event_type"]: r["p50"]
        for r in ev.groupBy("event_type")
        .agg(F.expr("percentile(value, 0.5)").alias("p50"))
        .collect()
    }
    assert set(got) == set(exact)
    for t, true in exact.items():
        assert abs(got[t] - true) <= 0.02 * 512.0, (t, got[t], true)


def test_countmin_join_size_upper_bounds_true(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    orders = load(spark, sf_dir, "orders")
    a = sk.countmin_build(ev, "user_id", width=512, depth=4)
    b = sk.countmin_build(orders, "o_custkey", width=512, depth=4)
    est = sk.countmin_join_size(a, b).collect()[0]["est"]
    true = ev.join(
        orders, ev["user_id"] == orders["o_custkey"]
    ).count()
    assert est >= true
    # wide sketch: estimate should be within 2x at this cardinality
    assert est <= 2 * max(true, 1)


def test_countmin_join_size_exact_when_no_collisions(spark):
    a_df = spark.createDataFrame([(i % 4,) for i in range(40)], "k int")
    b_df = spark.createDataFrame([(i % 2,) for i in range(10)], "k int")
    a = sk.countmin_build(a_df, "k", width=4096, depth=4)
    b = sk.countmin_build(b_df, "k", width=4096, depth=4)
    est = sk.countmin_join_size(a, b).collect()[0]["est"]
    true = a_df.join(b_df, "k").count()
    assert est == true
