"""Retrieval/importance scoring (functions/retrieval.py), Bloom
incremental dedup, SemDeDup, verified MinHash pairs, exact-n sampling,
and token-window chunking."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bytewax_spark.functions import dedup as dd
from bytewax_spark.functions import packing, retrieval, sampling


def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "web"),
        (1, "the quick brown fox jumps over the lazy dog", "web"),  # dup of 0
        (2, "spark shuffle partitions and the hash join", "code"),
        (3, "window functions rank rows in the frame", "code"),
        (4, "fox dog fox dog fox dog", "web"),
        (5, "", "web"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


# ---------------------------------------------------------------------------
# Bloom filter + Bloom incremental dedup
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_low_fp(spark):
    df = spark.range(0, 500).select(F.col("id").alias("k"))
    words = dd.bloom_build(df, "k", m_bits=1 << 14, n_hashes=4)
    probe = dd.bloom_might_contain(words, F.col("k"), 1 << 14, 4)
    # every inserted key must hit (no false negatives)
    hits = spark.range(0, 500).select(F.col("id").alias("k")).filter(probe).count()
    assert hits == 500
    # out-of-set keys mostly miss (16384 bits / 500 keys => fp well under 10%)
    fp = spark.range(10_000, 20_000).select(F.col("id").alias("k")).filter(probe).count()
    assert fp < 1000


def test_bloom_incremental_matches_exact_incremental(spark):
    docs = _docs(spark)
    new = docs.filter(F.col("doc_id") >= 1)
    seen = docs.filter(F.col("doc_id") < 1)
    exact = dd.dedup_incremental(new, seen, "text", "doc_id")
    bloom = dd.dedup_bloom_incremental(new, seen, "text", "doc_id", m_bits=1 << 10)
    assert sorted(r["doc_id"] for r in bloom.collect()) == sorted(
        r["doc_id"] for r in exact.collect()
    )
    # doc 1 duplicates seen doc 0 -> dropped by both paths
    assert 1 not in {r["doc_id"] for r in bloom.collect()}


def test_bloom_tiny_filter_still_correct(spark):
    # a saturated filter degrades to all-positive (everything confirmed
    # exactly) — never a wrong answer
    docs = _docs(spark)
    new = docs.filter(F.col("doc_id") >= 1)
    seen = docs.filter(F.col("doc_id") < 1)
    out = dd.dedup_bloom_incremental(new, seen, "text", "doc_id", m_bits=64)
    exact = dd.dedup_incremental(new, seen, "text", "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(
        r["doc_id"] for r in exact.collect()
    )


# ---------------------------------------------------------------------------
# SemDeDup / verified MinHash
# ---------------------------------------------------------------------------


def test_semdedup_drops_higher_id_near_dups(spark):
    rows = [
        (0, [1.0, 0.0], "a"),
        (1, [0.999, 0.01], "a"),   # near-dup of 0 -> dropped
        (2, [0.0, 1.0], "a"),      # orthogonal -> kept
        (3, [1.0, 0.0], "b"),      # same vector, different cell -> kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, cell string")
    out = sorted(
        r["vec_id"] for r in dd.semdedup(df, "embedding", "vec_id", "cell", 0.95).collect()
    )
    assert out == [0, 2, 3]


def test_minhash_verified_pairs_subset_with_true_jaccard(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "alpha beta gamma delta epsilon zeta"),      # identical -> j=1.0
        (2, "alpha beta gamma delta epsilon eta"),       # 5/7 overlap
        (3, "totally different words here now ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dd.minhash_lsh_verified_pairs(
        df, "text", "doc_id", n=1, k=32, bands=8, threshold=0.9
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    # the 5/7-overlap pair fails the 0.9 verify even if LSH proposed it
    assert all(j >= 0.9 for j in pairs.values())
    assert not any(3 in p for p in pairs)


# ---------------------------------------------------------------------------
# sample_exact_n
# ---------------------------------------------------------------------------


def test_sample_exact_n_deterministic(spark):
    df = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    a = sorted(r["doc_id"] for r in sampling.sample_exact_n(df, "doc_id", 50).collect())
    b = sorted(
        r["doc_id"]
        for r in sampling.sample_exact_n(df.repartition(13), "doc_id", 50).collect()
    )
    assert len(a) == 50 and a == b
    # a different salt draws a different subset
    c = sorted(
        r["doc_id"] for r in sampling.sample_exact_n(df, "doc_id", 50, salt="x").collect()
    )
    assert a != c


def test_sample_exact_n_edge_counts(spark):
    df = spark.range(0, 10).select(F.col("id").alias("doc_id"))
    assert sampling.sample_exact_n(df, "doc_id", 0).count() == 0
    assert sampling.sample_exact_n(df, "doc_id", 99).count() == 10
    with pytest.raises(ValueError):
        sampling.sample_exact_n(df, "doc_id", -1)


# ---------------------------------------------------------------------------
# DSIR importance weights
# ---------------------------------------------------------------------------


def test_dsir_prefers_target_like_docs(spark):
    raw = spark.createDataFrame(
        [(i, "common filler words here") for i in range(20)]
        + [(100, "rare target phrase tokens"), (101, "common filler words here")],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(0, "rare target phrase tokens")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["llr_micro"] for r in
           retrieval.dsir_logratio_weights(raw, target, "text", "doc_id", buckets=64).collect()}
    # the doc matching the target distribution scores strictly higher
    assert out[100] > out[101]


def test_dsir_weights_partition_invariant(spark):
    docs = _docs(spark)
    target = docs.filter(F.col("source") == "code")
    a = sorted(
        (r["doc_id"], r["llr_micro"])
        for r in retrieval.dsir_logratio_weights(docs, target, "text", "doc_id").collect()
    )
    b = sorted(
        (r["doc_id"], r["llr_micro"])
        for r in retrieval.dsir_logratio_weights(
            docs.repartition(17), target.repartition(3), "text", "doc_id"
        ).collect()
    )
    assert a == b  # int64 micro-units: exact under any aggregation order


# ---------------------------------------------------------------------------
# TF-IDF / BM25
# ---------------------------------------------------------------------------


def test_tfidf_ranks_rare_terms_first(spark):
    docs = _docs(spark)
    out = retrieval.tfidf_top_terms(docs, "text", "doc_id", k=2)
    rows = [(r["doc_id"], r["rk"], r["term"]) for r in out.collect()]
    by_doc = {}
    for d, rk, t in rows:
        by_doc.setdefault(d, {})[rk] = t
    # doc 4 is 'fox dog' x3: both words tie on tf=3 and equal df; term
    # asc tie-break puts 'dog' first
    assert by_doc[4][1] == "dog" and by_doc[4][2] == "fox"
    # 'the' (df=4 across docs) never outranks doc-specific terms
    assert by_doc[2][1] != "the"


def test_bm25_scores_match_reference_formula(spark):
    docs = _docs(spark).filter(F.col("doc_id") <= 4)
    out = {r["doc_id"]: r["score"] for r in
           retrieval.bm25_scores(docs, "text", "doc_id", ["spark", "fox"], k=10).collect()}
    # python reference over the same tiny corpus
    corpus = {
        0: "the quick brown fox jumps over the lazy dog".split(),
        1: "the quick brown fox jumps over the lazy dog".split(),
        2: "spark shuffle partitions and the hash join".split(),
        3: "window functions rank rows in the frame".split(),
        4: "fox dog fox dog fox dog".split(),
    }
    N = len(corpus)
    avgdl = sum(len(v) for v in corpus.values()) / N
    k1, b = 1.2, 0.75
    for doc_id, toks in corpus.items():
        score = 0.0
        for term in ("spark", "fox"):
            tf = toks.count(term)
            if tf == 0:
                continue
            df_t = sum(1 for v in corpus.values() if term in v)
            idf = math.log(1.0 + (N - df_t + 0.5) / (df_t + 0.5))
            score += idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * len(toks) / avgdl))
        if score > 0:
            assert abs(out[doc_id] - round(score, 4)) < 1e-9
        else:
            assert doc_id not in out


# ---------------------------------------------------------------------------
# chunk_documents
# ---------------------------------------------------------------------------


def test_chunk_documents_disjoint_and_overlapping(spark):
    df = spark.createDataFrame(
        [(0, " ".join(f"t{i}" for i in range(10))), (1, "")],
        "doc_id long, text string",
    )
    disjoint = packing.chunk_documents(df, "text", "doc_id", max_tokens=4).collect()
    by_chunk = {(r["doc_id"], r["chunk_id"]): r for r in disjoint}
    assert len(by_chunk) == 3  # 4+4+2, empty doc contributes nothing
    assert by_chunk[(0, 0)]["chunk_text"] == "t0 t1 t2 t3"
    assert by_chunk[(0, 2)]["n_tokens"] == 2
    # overlapping windows: starts 0,3,6,9
    over = packing.chunk_documents(df, "text", "doc_id", max_tokens=4, stride=3).collect()
    assert len(over) == 4
    texts = {r["chunk_id"]: r["chunk_text"] for r in over}
    assert texts[1] == "t3 t4 t5 t6"
    assert texts[3] == "t9"
    with pytest.raises(ValueError):
        packing.chunk_documents(df, "text", "doc_id", max_tokens=0)


# ---------------------------------------------------------------------------
# exact-substring span dedup
# ---------------------------------------------------------------------------


def test_span_dedup_removes_copied_passages(spark):
    rows = [
        (0, "a b c d e f g h i j"),
        (1, "x y a b c d e f g h z"),   # embeds 0's passage
        (2, "p q r s t u v w"),         # unique
        (3, "a b c d e f g h i j"),     # full dup of 0
        (4, "short doc"),               # shorter than span_len
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in dd.dedup_spans_global(df, "text", "doc_id", span_len=4).collect()}
    assert out[0] == "a b c d e f g h i j"   # first occurrence untouched
    assert out[1] == "x y z"                 # copied passage removed
    assert out[2] == "p q r s t u v w"
    assert out[3] == ""                      # fully deduplicated
    assert out[4] == "short doc"
    assert len(out) == 5                     # row count preserved


def test_span_dedup_partition_invariant_and_merges_overlaps(spark):
    # overlapping duplicate windows within one doc must merge, not
    # double-remove; and the result must not depend on partitioning
    rows = [(0, "m n o p q r"), (1, "h1 m n o p q r h2"), (2, "m n o p q r tail1 tail2")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r["doc_id"]: r["text"]
         for r in dd.dedup_spans_global(df, "text", "doc_id", span_len=3).collect()}
    b = {r["doc_id"]: r["text"]
         for r in dd.dedup_spans_global(
             df.repartition(7), "text", "doc_id", span_len=3).collect()}
    assert a == b
    assert a[0] == "m n o p q r"
    assert a[1] == "h1 h2"
    assert a[2] == "tail1 tail2"


# ---------------------------------------------------------------------------
# unigram perplexity + winnowing
# ---------------------------------------------------------------------------


def test_unigram_nll_scores_lm_like_docs_lower(spark):
    lm = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(10)],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "zyx wvu tsr qpo nml kji")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["nll_micro"] / r["n_tokens"]
           for r in retrieval.unigram_nll(docs, lm, "text", "doc_id", buckets=1024).collect()}
    # in-distribution text has strictly lower mean NLL than gibberish
    assert out[0] < out[1]


def test_winnow_shared_substring_collides(spark):
    from bytewax_spark.functions import text as tx

    rows = [
        (0, "the quick brown fox jumps over it"),
        (1, "XXXX the quick brown fox jumps YY"),   # shares a long substring
        (2, "completely unrelated words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = tx.winnow_fingerprints(df, "text", "doc_id", k=5, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    # guarantee: any shared substring >= window+k-1 (8) chars shares a fingerprint
    assert by_doc[0] & by_doc[1]
    assert not (by_doc[0] & by_doc[2])
    # partition invariance
    fps2 = tx.winnow_fingerprints(df.repartition(7), "text", "doc_id", k=5, window=4)
    assert sorted(map(tuple, fps.collect())) == sorted(map(tuple, fps2.collect()))


def test_winnow_arrow_sql_parity(spark):
    # the mapInArrow kernel must reproduce the registry's DuckDB oracle
    # SQL row for row, across the edge shapes: empty text, text shorter
    # than k, gram count below the window width, ties, and non-ascii
    # (code-point slicing vs utf-8 byte slicing)
    from bytewax_spark.functions import text as tx
    from tests import duckref

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, ""),
        (2, None),
        (3, "abc"),          # < k chars: no grams
        (4, "abcde"),        # exactly one gram (m=1 < window)
        (5, "abcdefg"),      # m=3 < window
        (6, "abcdefgh"),     # m=4 == window
        (7, "aaaaaaaaaaaaaaa"),  # all grams identical: tie-break path
        (8, "héllo wörld — ünïcode tëxt here"),
        (9, "the quick brown fox jumps over the lazy dog"),  # dup text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = tx.winnow_fingerprints(df, "text", "doc_id", k=5, window=4)
    assert duckref.spark_rows(got) == duckref.winnow(df)


# ---------------------------------------------------------------------------
# time-series gap-fill
# ---------------------------------------------------------------------------


def test_gapfill_ffill_fills_holes_per_key(spark):
    from datetime import datetime

    from bytewax_spark.functions import timeseries as ts

    rows = [
        (1, datetime(2024, 1, 1, 0, 10), 5.0),
        (1, datetime(2024, 1, 1, 3, 20), 7.0),   # hours 1,2 missing
        (2, datetime(2024, 1, 1, 5, 0), 1.0),    # single point
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {(r["user_id"], r["hour"].hour): r["value"]
           for r in ts.gapfill_ffill(df, "user_id", "ts", "value").collect()}
    assert out[(1, 0)] == 5.0
    assert out[(1, 1)] == 5.0 and out[(1, 2)] == 5.0   # forward-filled
    assert out[(1, 3)] == 7.0
    assert out[(2, 5)] == 1.0
    # grid is bounded per key: no hours before first or after last
    assert len(out) == 5


# ---------------------------------------------------------------------------
# sample_weighted_n (Efraimidis-Spirakis A-ES)
# ---------------------------------------------------------------------------


def test_sample_weighted_n_deterministic_and_exact(spark):
    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 10 + 1).alias("w")
    )
    a = sorted(r["doc_id"] for r in sampling.sample_weighted_n(df, "doc_id", "w", 100).collect())
    b = sorted(
        r["doc_id"]
        for r in sampling.sample_weighted_n(df.repartition(13), "doc_id", "w", 100).collect()
    )
    assert len(a) == 100 and a == b
    c = sorted(
        r["doc_id"]
        for r in sampling.sample_weighted_n(df, "doc_id", "w", 100, salt="x").collect()
    )
    assert a != c


def test_sample_weighted_n_favors_heavy_rows(spark):
    """Rows with weight 50 must be drawn far more often than weight-1
    rows (deterministic draw, statistical property over 2000 rows)."""
    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 1000, F.lit(1)).otherwise(F.lit(50)).alias("w"),
    )
    picked = [r["doc_id"] for r in sampling.sample_weighted_n(df, "doc_id", "w", 200).collect()]
    heavy = sum(1 for d in picked if d >= 1000)
    assert heavy > 150  # expectation ~196 of 200


def test_sample_weighted_n_drops_nonpositive_weights(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (5, 2.0)], "doc_id long, w double"
    )
    picked = {r["doc_id"] for r in sampling.sample_weighted_n(df, "doc_id", "w", 10).collect()}
    assert picked == {1, 5}
    with pytest.raises(ValueError):
        sampling.sample_weighted_n(df, "doc_id", "w", -1)


def test_percentile_normalize_matches_percent_rank(spark):
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [("a", 10), ("a", 20), ("a", 20), ("a", 30), ("b", 5), ("b", 7), ("c", 99)],
        "g string, s int",
    ).withColumn("rid", F.monotonically_increasing_id())
    got = {
        (r["g"], r["rid"]): r["pct"]
        for r in sampling.percentile_normalize(df, "s", "g").collect()
    }
    ref = {
        (r["g"], r["rid"]): round(r["ref"], 9)
        for r in df.withColumn(
            "ref", F.percent_rank().over(Window.partitionBy("g").orderBy("s"))
        ).collect()
    }
    assert got == ref
    # singleton group pins to 0.0, ties share a rank
    assert got[("c", [k for (g, k) in got if g == "c"][0])] == 0.0


def test_vocab_coverage_known_corpus(spark):
    from bytewax_spark.functions import retrieval

    df = spark.createDataFrame([("a a a b",), ("b c",)], "text string")
    rows = retrieval.vocab_coverage(df, "text", 10).collect()
    assert [(r["rank"], r["token"], r["cnt"]) for r in rows] == [
        (1, "a", 3), (2, "b", 2), (3, "c", 1)
    ]
    assert [r["coverage"] for r in rows] == [0.5, round(5 / 6, 9), 1.0]
    # vocab_size truncates; coverage of the truncated vocab < 1
    top1 = retrieval.vocab_coverage(df, "text", 1).collect()
    assert len(top1) == 1 and top1[0]["coverage"] == 0.5
    with pytest.raises(ValueError):
        retrieval.vocab_coverage(df, "text", 0)


# ---------------------------------------------------------------------------
# itemsets: frequent pairs + association rules
# ---------------------------------------------------------------------------


def test_frequent_pairs_and_rules_known_baskets(spark):
    from bytewax_spark.functions import itemsets

    rows = [
        (1, "milk"), (1, "bread"), (1, "eggs"),
        (2, "milk"), (2, "bread"),
        (3, "milk"), (3, "bread"),
        (4, "eggs"),
        (5, "milk"), (5, "milk"),  # duplicate presence counts once
    ]
    df = spark.createDataFrame(rows, "bk long, it string")
    pairs = {(r["item_a"], r["item_b"]): r["support"]
             for r in itemsets.frequent_pairs(df, "bk", "it", 2).collect()}
    assert pairs == {("bread", "milk"): 3}
    rules = {(r["antecedent"], r["consequent"]): (r["support"], r["confidence"], r["lift"])
             for r in itemsets.association_rules(df, "bk", "it", 2).collect()}
    # bread->milk: 3/3 = 1.0 conf; milk appears in 4 of 5 baskets -> lift 1.25
    assert rules[("bread", "milk")] == (3, 1.0, 1.25)
    # milk->bread: 3/4 conf; bread in 3/5 -> lift = 0.75/0.6 = 1.25
    assert rules[("milk", "bread")] == (3, 0.75, 1.25)
    with pytest.raises(ValueError):
        itemsets.frequent_pairs(df, "bk", "it", 0)
    with pytest.raises(ValueError):
        itemsets.association_rules(df, "bk", "it", 2, min_confidence=1.5)


def test_association_rules_min_confidence_filters(spark):
    from bytewax_spark.functions import itemsets

    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a")]
    df = spark.createDataFrame(rows, "bk long, it string")
    rules = itemsets.association_rules(df, "bk", "it", 2, min_confidence=0.9).collect()
    # b->a has conf 1.0 (kept); a->b has conf 2/3 (dropped)
    assert [(r["antecedent"], r["consequent"]) for r in rules] == [("b", "a")]


# ---------------------------------------------------------------------------
# ngram_nll (bigram LM)
# ---------------------------------------------------------------------------


def test_ngram_nll_bigram_prefers_fluent_text(spark):
    from bytewax_spark.functions import retrieval

    lm_rows = [(i, "the cat sat on the mat") for i in range(20)]
    lm = spark.createDataFrame(lm_rows, "doc_id long, text string")
    score_rows = [(100, "the cat sat on the mat"), (101, "mat the on sat cat the")]
    df = spark.createDataFrame(score_rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in retrieval.ngram_nll(df, lm, "text", "doc_id", n=2).collect()}
    # both have 5 bigrams; the in-LM word order must score strictly lower NLL
    assert out[100]["n_tokens"] == 5 and out[101]["n_tokens"] == 5
    assert out[100]["nll_micro"] < out[101]["nll_micro"]
    # unigram model cannot tell them apart (same bag of words)
    uni = {r["doc_id"]: r["nll_micro"] for r in retrieval.unigram_nll(df, lm, "text", "doc_id").collect()}
    assert uni[100] == uni[101]
    with pytest.raises(ValueError):
        retrieval.ngram_nll(df, lm, "text", "doc_id", n=0)


def test_ngram_nll_short_docs_no_grams(spark):
    from bytewax_spark.functions import retrieval

    lm = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    df = spark.createDataFrame([(2, "solo"), (3, "x y")], "doc_id long, text string")
    out = {r["doc_id"]: r["n_tokens"] for r in retrieval.ngram_nll(df, lm, "text", "doc_id", n=2).collect()}
    # 1-token doc yields no bigrams (absent); 2-token doc yields one
    assert out == {3: 1}


def test_trailing_agg_sum_and_count(spark):
    from datetime import datetime, timedelta

    from bytewax_spark.functions import timeseries

    ts = lambda h: datetime(2024, 1, 1, h)  # noqa: E731
    rows = [
        (1, ts(0), 10.0), (1, ts(1), 20.0), (1, ts(3), 40.0),
        (2, ts(0), 5.0),
    ]
    df = spark.createDataFrame(rows, "uid long, ts timestamp, v double")
    out = {
        (r["uid"], r["ts"].hour): r["trailing"]
        for r in timeseries.trailing_agg(df, "uid", "ts", "v", timedelta(hours=2)).collect()
    }
    # 2h inclusive window: t=3 sees t=1 and t=3 (t=0 is 3h back)
    assert out == {(1, 0): 10.0, (1, 1): 30.0, (1, 3): 60.0, (2, 0): 5.0}
    cnt = {
        (r["uid"], r["ts"].hour): r["trailing"]
        for r in timeseries.trailing_agg(
            df, "uid", "ts", "v", timedelta(hours=2), agg="count"
        ).collect()
    }
    assert cnt == {(1, 0): 1, (1, 1): 2, (1, 3): 2, (2, 0): 1}
    with pytest.raises(ValueError):
        timeseries.trailing_agg(df, "uid", "ts", "v", timedelta(0))
    with pytest.raises(ValueError):
        timeseries.trailing_agg(df, "uid", "ts", "v", timedelta(hours=1), agg="median")


def test_inverted_index_counts_and_postings(spark):
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "a")], "doc_id long, text string"
    )
    idx = {r["term"]: r for r in retrieval.inverted_index(df, "text", "doc_id").collect()}
    assert idx["a"]["df_count"] == 2 and idx["a"]["cf_count"] == 3
    assert idx["a"]["postings"] == ["1:2", "3:1"]
    assert idx["b"]["postings"] == ["1:1", "2:1"]
    assert idx["c"]["df_count"] == 1 and idx["c"]["postings"] == ["2:1"]


def test_inverted_index_postings_cap_keeps_counts_exact(spark):
    df = spark.createDataFrame(
        [(i, "tok") for i in range(10)], "doc_id long, text string"
    )
    row = retrieval.inverted_index(df, "text", "doc_id", max_postings=3).collect()[0]
    assert row["df_count"] == 10 and row["cf_count"] == 10
    assert row["postings"] == ["0:1", "1:1", "2:1"]  # smallest ids survive


def test_dedup_keep_best_prefers_high_score(spark):
    # docs 1/2/3 are near-identical (same unigram set), doc 9 distinct;
    # doc 2 has the highest score so it must be the survivor
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", 10),
            (2, "epsilon delta alpha beta gamma gamma", 99),
            (3, "alpha beta gamma delta epsilon", 10),
            (9, "completely different words here entirely", 1),
        ],
        "doc_id long, text string, score long",
    )
    out = {r["doc_id"]: r["cluster_id"] for r in dd.dedup_keep_best(
        df, "text", "doc_id", "score", n=1, k=32, bands=4
    ).collect()}
    assert 9 in out  # singleton survives
    dup_survivors = [d for d in out if d != 9]
    assert dup_survivors == [2]  # highest score, not min id


def test_dedup_keep_best_tie_breaks_min_id(spark):
    df = spark.createDataFrame(
        [(5, "alpha beta gamma", 7), (3, "alpha beta gamma", 7)],
        "doc_id long, text string, score long",
    )
    out = dd.dedup_keep_best(df, "text", "doc_id", "score", n=1, k=32, bands=4).collect()
    assert [r["doc_id"] for r in out] == [3]


def test_rrf_fuse_hand_computed(spark):
    from bytewax_spark.functions.retrieval import rrf_fuse

    r1 = spark.createDataFrame([(10, 1), (11, 2)], "id long, rank long")
    r2 = spark.createDataFrame([(11, 1), (12, 2)], "id long, rank long")
    out = {
        r.id: (r.n_lists, r.rrf_micro)
        for r in rrf_fuse([r1, r2], k=60).collect()
    }
    # 1e6//61 = 16393, 1e6//62 = 16129
    assert out[10] == (1, 16393)
    assert out[11] == (2, 16393 + 16129)
    assert out[12] == (1, 16129)


def test_rrf_fuse_consensus_beats_single_top(spark):
    from bytewax_spark.functions.retrieval import rrf_fuse

    # id 5 is rank 2 in BOTH lists; ids 1 and 9 are rank 1 in one list
    r1 = spark.createDataFrame([(1, 1), (5, 2)], "id long, rank long")
    r2 = spark.createDataFrame([(9, 1), (5, 2)], "id long, rank long")
    out = {r.id: r.rrf_micro for r in rrf_fuse([r1, r2]).collect()}
    assert out[5] > out[1] == out[9]


def test_rrf_fuse_validates_inputs(spark):
    import pytest
    from bytewax_spark.functions.retrieval import rrf_fuse

    with pytest.raises(ValueError):
        rrf_fuse([])
    r = spark.createDataFrame([(1, 1)], "id long, rank long")
    with pytest.raises(ValueError):
        rrf_fuse([r], k=0)
