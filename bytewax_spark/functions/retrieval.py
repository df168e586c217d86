"""Corpus scoring & retrieval — importance weights (DSIR-style),
TF-IDF, BM25 — for training-data selection pipelines.

All pure ``pyspark.sql.functions`` expressions (no UDFs). The shared
scale posture: token explodes reduce to SMALL aggregate tables
(hash-bucket distributions, vocabulary document frequencies, one-row
corpus totals) that broadcast back onto the stream; the corpus itself
shuffles at most once, on (id, term)-shaped keys with map-side partial
counts.

Float determinism: anywhere a score feeds an order-sensitive step or a
cross-engine oracle, the irrational part (logs) is quantized to
integer micro-units or rounded at fixed decimals so results are
engine-portable (see ``dsir_logratio_weights``).

Parity note: the reference engine has no retrieval/importance surface;
this module is part of the beyond-reference LLM-pipeline layer
(SURVEY.md §2.7). DSIR follows Xie et al. 2023 (arXiv:2302.03169,
public): hashed n-gram features, importance = target/raw
log-likelihood ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import ensure_min_partitions as _spread
from ._materialize import materialize
from .text import hash64, tokenize

__all__ = [
    "dsir_logratio_weights",
    "unigram_nll",
    "ngram_nll",
    "tfidf_top_terms",
    "bm25_scores",
    "rrf_fuse",
    "vocab_coverage",
    "inverted_index",
]


def _bucketed_tokens(df: DataFrame, text_col: str, id_col: str, buckets: int) -> DataFrame:
    """(id, bucket) — one row per token OCCURRENCE, hashed into a
    fixed feature space. The hash runs before the explode leaves the
    row, so shuffled rows are (id, int) regardless of token length."""
    return _spread(df).select(
        F.col(id_col), F.explode(tokenize(text_col)).alias("_t")
    ).select(id_col, F.pmod(hash64(F.col("_t")), F.lit(buckets)).alias("_b"))


def dsir_logratio_weights(
    raw_df: DataFrame,
    target_df: DataFrame,
    text_col: str,
    id_col: str,
    buckets: int = 256,
    micro: int = 1_000_000,
) -> DataFrame:
    """DSIR-style importance weights: score every raw document by how
    much its hashed-unigram distribution looks like the TARGET corpus
    (the small high-quality set you want more of) versus the raw pool.

    Per bucket b (add-one smoothed):
        w_b = ln(tc_b+1) - ln(T+B) - ln(rc_b+1) + ln(R+B)
    quantized to integer micro-units; per doc:
        llr_micro = Σ_tokens w_bucket(token)   (exact int arithmetic)
    Positive = target-like. Sampling ∝ exp(llr) is the DSIR resampling
    step (callers: ``sampling.sample_by_hash`` on a weight-derived
    rate, or ``topk``/``selection`` on the score).

    Scale: both distribution estimates are ``buckets``-row aggregates
    (map-side combine; B is a constant, not vocabulary-sized), joined
    full-outer and BROADCAST onto the per-(doc, bucket) counts — the
    only corpus-sized shuffle is the (id, bucket) partial-count
    aggregation. Quantizing the log weights to int64 micro-units makes
    the per-doc sum exact integer math: deterministic under any
    aggregation order, bit-equal across engines (a float sum would
    drift with partitioning)."""
    raw_toks = _bucketed_tokens(raw_df, text_col, id_col, buckets)
    tgt_toks = _bucketed_tokens(target_df, text_col, id_col, buckets)
    # per-doc counts are computed anyway for the final score — the raw
    # pool's bucket distribution rolls up from THEM (256-row second
    # aggregation) instead of re-tokenizing the whole corpus.
    per_doc = materialize(
        raw_toks.groupBy(id_col, "_b").agg(F.count(F.lit(1)).alias("_n")),
        "per-doc bucket counts, read by the score and the pool totals; "
        "Catalyst does not reuse the tokenize exchange",
        eager=True,
    )
    rc = per_doc.groupBy("_b").agg(F.sum("_n").alias("_rc"))
    tc = materialize(
        tgt_toks.groupBy("_b").agg(F.count(F.lit(1)).alias("_tc")),
        "buckets-row target table, read by the weights and the total",
        eager=True,
    )
    rtot = rc.agg(F.sum("_rc").alias("_R"))
    ttot = tc.agg(F.sum("_tc").alias("_T"))
    fb = float(buckets)
    w = (
        rc.join(tc, "_b", "full")
        .na.fill({"_rc": 0, "_tc": 0})
        .join(F.broadcast(rtot))
        .join(F.broadcast(ttot))
        .select(
            "_b",
            F.round(
                (
                    F.log(F.col("_tc") + 1.0)
                    - F.log(F.col("_T") + fb)
                    - F.log(F.col("_rc") + 1.0)
                    + F.log(F.col("_R") + fb)
                )
                * micro
            )
            .cast("long")
            .alias("_w"),
        )
    )
    return (
        per_doc.join(F.broadcast(w), "_b")
        .groupBy(id_col)
        .agg(
            F.sum("_n").alias("n_tokens"),
            F.sum(F.col("_n") * F.col("_w")).alias("llr_micro"),
        )
    )


def _bucketed_ngrams(
    df: DataFrame, text_col: str, id_col: str, n: int, buckets: int
) -> DataFrame:
    """(id, bucket) — one row per n-gram occurrence, hashed into the
    fixed feature space (n=1 reduces to ``_bucketed_tokens``). The
    n-grams are built inside the row (``transform`` over window
    starts), so nothing wider than (id, int) ever leaves the scan."""
    if n == 1:
        return _bucketed_tokens(df, text_col, id_col, buckets)
    toks = tokenize(text_col)
    sz = F.size(toks)
    grams = F.when(
        sz >= n,
        F.transform(
            F.sequence(F.lit(1), sz - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return _spread(df).select(F.col(id_col), F.explode(grams).alias("_t")).select(
        id_col, F.pmod(hash64(F.col("_t")), F.lit(buckets)).alias("_b")
    )


def unigram_nll(
    df: DataFrame,
    lm_df: DataFrame,
    text_col: str,
    id_col: str,
    buckets: int = 4096,
    micro: int = 1_000_000,
) -> DataFrame:
    """Hashed-UNIGRAM LM scoring — ``ngram_nll`` at n=1 (kept as the
    named entry point the queries cite)."""
    return ngram_nll(df, lm_df, text_col, id_col, 1, buckets, micro)


def ngram_nll(
    df: DataFrame,
    lm_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 2,
    buckets: int = 4096,
    micro: int = 1_000_000,
) -> DataFrame:
    """Per-document negative log-likelihood under a hashed-n-gram
    language model trained on ``lm_df`` — the CCNet-style perplexity
    quality signal (Wenzek et al. 2020, arXiv:1911.00359 — public; a
    corpus is bucketed by LM perplexity and the gibberish tail
    dropped; their KenLM is a 5-gram — higher ``n`` here moves toward
    it, catching word-salad that unigram stats miss). Columns:
    ``n_tokens`` (n-gram occurrences) and ``nll_micro`` = Σ -ln
    p(gram) in integer micro-nats (divide by ``micro * n_tokens`` for
    mean NLL; exp of that is perplexity).

    The "model" is add-one-smoothed bucket frequencies over a FIXED
    hash space — the same scale trick as DSIR: the LM is a
    ``buckets``-row table whatever the n-gram vocabulary (which at
    n≥2 would otherwise explode combinatorially), broadcast onto the
    stream; per-gram log-probs are quantized to int64 micro-units so
    the per-doc sum is exact under any aggregation order."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    lm = materialize(
        _bucketed_ngrams(lm_df, text_col, id_col, n, buckets)
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_c")),
        "buckets-row LM table, read by the weights and the total",
        eager=True,
    )
    tot = lm.agg(F.sum("_c").alias("_T"))
    fb = float(buckets)
    w = (
        lm.join(F.broadcast(tot))
        .select(
            "_b",
            F.round((F.log(F.col("_T") + fb) - F.log(F.col("_c") + 1.0)) * micro)
            .cast("long")
            .alias("_nll"),
        )
    )
    # grams hashing to a bucket absent from the LM get the unseen-mass
    # cost -ln(1/(T+B)); computed from the same one-row total
    per_doc = _bucketed_ngrams(df, text_col, id_col, n, buckets).groupBy(
        id_col, "_b"
    ).agg(F.count(F.lit(1)).alias("_n"))
    unseen = F.round(F.log(F.col("_T") + fb) * micro).cast("long")
    return (
        per_doc.join(F.broadcast(w), "_b", "left")
        .join(F.broadcast(tot))
        .select(
            id_col,
            "_n",
            F.coalesce(F.col("_nll"), unseen).alias("_w"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("_n").alias("n_tokens"),
            F.sum(F.col("_n") * F.col("_w")).alias("nll_micro"),
        )
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document:
    score = tf · (ln((N+1)/(df_t+1)) + 1), rounded to 4 decimals,
    rank by (score desc, term asc) within each document.

    Scale: one (id, term) partial-count shuffle for tf; document
    frequencies come from a count window PARTITIONED BY TERM over the
    tf table itself — not a separate aggregate joined back, which
    Catalyst planned as a SECOND full tokenize+explode of the corpus
    (measured: ReuseExchange never fired on the shared tf subtree;
    the plan carried 2 Generate passes). One tokenize pass, one window
    (guide §2.4: two operations keyed the same data share one
    computation). Corpus size N is a broadcast one-row aggregate. The
    rank window partitions by document — millions of small partitions,
    never a global sort."""
    from pyspark.sql import Window

    tf = (
        _spread(df).select(F.col(id_col), F.explode(tokenize(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    nd = df.agg(F.count_distinct(F.col(id_col)).alias("_N"))
    idf = F.log((F.col("_N") + 1.0) / (F.col("_df") + 1.0)) + 1.0
    wt = Window.partitionBy("term")
    scored = (
        tf.withColumn("_df", F.count(F.lit(1)).over(wt))
        .join(F.broadcast(nd))
        .withColumn("score", F.round(F.col("tf") * idf, 4))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, "term", "tf", "score", "rk")
    )


def bm25_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """BM25 ranking of documents against a bag of query terms
    (Robertson-Spärck Jones; the classic retrieval scorer):

        score(d) = Σ_t idf_t · tf_td·(k1+1) / (tf_td + k1·(1-b+b·|d|/avgdl))
        idf_t    = ln(1 + (N - df_t + 0.5)/(df_t + 0.5))

    Returns the top-``k`` documents by (round(score, 4) desc, id).

    Scale: the term filter cuts the token stream to query terms BEFORE
    any shuffle (a scan-rate ``isin``); doc lengths are one partial-agg
    pass, CHECKPOINTED because three consumers read it (the corpus
    totals, the per-term join) and Catalyst re-tokenized the corpus per
    consumer instead of reusing the exchange (measured: 4 Generate
    passes in the executed plan; the doc-length table is one row per
    doc — orders of magnitude smaller than the token stream). N/avgdl
    is a broadcast one-row aggregate; per-term document frequencies
    come from a count window over the (tiny, already term-filtered) tf
    table rather than a re-aggregated second token pass. Final top-k is
    sort+limit → TakeOrderedAndProject, no global sort."""
    from pyspark.sql import Window

    terms = [t.lower() for t in query_terms]
    toks = _spread(df).select(F.col(id_col), F.explode(tokenize(text_col)).alias("term"))
    dl = materialize(
        toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("_dl")),
        "one doc-length row per doc, read by the corpus totals and the score",
        eager=True,
    )
    corpus = dl.agg(
        F.count(F.lit(1)).alias("_N"), F.sum("_dl").alias("_TOT")
    )
    tf = (
        toks.filter(F.col("term").isin(terms))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("_tf"))
        .withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("term")))
    )
    avgdl = F.col("_TOT") / F.col("_N")
    idf = F.log(
        1.0 + (F.col("_N") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    )
    tf_part = (F.col("_tf") * (k1 + 1.0)) / (
        F.col("_tf") + k1 * (1.0 - b + b * F.col("_dl") / avgdl)
    )
    per_term = (
        tf.join(dl, id_col)
        .join(F.broadcast(corpus))
        .select(F.col(id_col), (idf * tf_part).alias("_s"))
    )
    return (
        per_term.groupBy(id_col)
        .agg(F.round(F.sum("_s"), 4).alias("score"))
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(k)
    )


def vocab_coverage(
    df: DataFrame, text_col: str, vocab_size: int
) -> DataFrame:
    """(rank, token, cnt, coverage) — the ``vocab_size`` most frequent
    tokens (count desc, token asc tiebreak) with the CUMULATIVE share
    of all token occurrences they cover. The tokenizer-vocabulary
    induction step: pick V, read off coverage, and 1 - coverage at
    rank V is the corpus OOV rate.

    Scale: the corpus reduces to (token, count) with map-side partial
    aggregation — one shuffle keyed by token; top-V is
    TakeOrderedAndProject (per-partition heaps); only then does a
    cumulative window run, over exactly V rows (bounded by the
    parameter, not the corpus — the single-partition window is over
    the vocab, which by definition fits). The occurrence total is a
    one-row broadcast. Coverage is an exact int64 cumsum divided once
    in IEEE double — engine-portable without rounding tricks, rounded
    to 9 anyway for repr stability."""
    if vocab_size <= 0:
        raise ValueError(f"vocab_size must be positive, got {vocab_size}")
    from pyspark.sql import Window

    counts = (
        _spread(df).select(F.explode(tokenize(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("_tot"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("token")).limit(vocab_size)
    w = Window.orderBy(F.col("cnt").desc(), F.col("token")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        top.join(F.broadcast(total))
        .select(
            F.row_number()
            .over(Window.orderBy(F.col("cnt").desc(), F.col("token")))
            .cast("long")
            .alias("rank"),
            "token",
            "cnt",
            F.round(
                F.sum("cnt").over(w).cast("double") / F.col("_tot").cast("double"), 9
            ).alias("coverage"),
        )
    )


def inverted_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_postings: int | None = None,
) -> DataFrame:
    """Build an inverted index: one row per term ``(term, df_count,
    cf_count, postings)`` — ``df_count`` documents containing the
    term, ``cf_count`` total occurrences, ``postings`` a doc-id-sorted
    ``array<string>`` of ``"id:tf"`` entries (string-encoded so any
    SQL engine reproduces the rows byte-for-byte). The search-side
    complement of :func:`bm25_scores`: build once, serve term lookups
    without touching the corpus.

    Scale shape: one (id, term) partial-count shuffle (same cost class
    as wordcount), then one groupBy(term). Stopword-grade terms make
    giant posting arrays — ``max_postings`` caps the ARRAY (keeping
    the smallest doc ids, deterministic) while ``df_count``/
    ``cf_count`` stay exact over all occurrences; at web scale pass a
    cap (or pre-drop stopwords) so no single term row exceeds executor
    memory."""
    tf = (
        _spread(df).select(F.col(id_col).alias("_id"), F.explode(tokenize(text_col)).alias("term"))
        .groupBy("_id", "term")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    posts = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df_count"),
        F.sum("_tf").alias("cf_count"),
        F.array_sort(
            F.collect_list(F.struct(F.col("_id"), F.col("_tf")))
        ).alias("_p"),
    )
    arr = F.col("_p") if max_postings is None else F.slice("_p", 1, max_postings)
    return posts.select(
        "term",
        "df_count",
        "cf_count",
        F.transform(
            arr,
            lambda s: F.concat_ws(
                ":", s.getField("_id").cast("string"), s.getField("_tf").cast("string")
            ),
        ).alias("postings"),
    )


def rrf_fuse(
    rankings,
    id_col: str = "id",
    rank_col: str = "rank",
    k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009 —
    the standard hybrid-search combiner): merge N independent rankings
    (lexical BM25, dense cosine, ...) into one by
    ``score = Σ 1/(k + rank_i)``, summed over the lists that contain
    the id. ``k = 60`` is the published default; each reciprocal is
    floor-quantized to int64 micros BEFORE summation so the fused
    score is engine- and order-exact. Returns
    ``(id, n_lists, rrf_micro)``.

    One unionAll of the (id, contribution) lists + one
    map-side-combined sum — fusing rankings of any length costs a
    single keyed shuffle of the RANK TABLES, never the corpora
    behind them."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [
        r.select(
            F.col(id_col).alias("id"),
            F.expr(f"1000000 div ({k} + {rank_col})").cast("long").alias("_c"),
        )
        for r in rankings
    ]
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionAll(p)
    return allc.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_lists"),
        F.sum("_c").alias("rrf_micro"),
    )
