"""Text analysis for training-data pipelines.

All pure ``pyspark.sql.functions`` expressions — no Python in the hot
path, so a 100 TB documents table runs at whole-stage-codegen rate
with full column pruning (only ``text`` is read).

Hashing convention: ``hash64`` = first 15 hex digits of md5 as int64
(60 bits). md5 exists in every engine (so DuckDB oracles reproduce
results exactly) and is stable across runs/partitionings, unlike
``F.hash``'s murmur seed-dependence guarantees across versions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "normalize_text",
    "hash64",
    "tokenize",
    "token_count",
    "char_ngrams",
    "word_shingles",
    "bag_shingles",
    "quality_score",
    "lang_id",
    "fingerprint",
    "winnow_fingerprints",
    "top_word_frac",
    "distinct_word_ratio",
    "dup_ngram_frac",
    "pii_counts",
    "pii_redact",
    "pmi_collocations",
    "char_entropy",
    "skipgram_pairs",
    "gopher_rules",
    "readability_micro",
    "zipf_alpha",
    "tokens_per_byte_micro",
    "STOPWORDS",
    "PII_PATTERNS",
    "GOPHER_STOPWORDS",
]

_TOKEN_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"],
    "es": ["el", "la", "los", "las", "es", "un", "una", "para", "con", "que"],
}


def hash64(c: Column | str) -> Column:
    """Deterministic 60-bit int64 hash (md5-derived, oracle-friendly)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def tokenize(c: Column | str) -> Column:
    """Whitespace tokenization → array<string> (lowercased)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != F.lit(""))


def token_count(c: Column | str, mode: str = "whitespace") -> Column:
    """Token count: ``whitespace`` or ``bpe`` (BPE-ish regex: runs of
    alphanumerics, plus each punctuation mark — approximates subword
    pre-tokenization)."""
    c = F.col(c) if isinstance(c, str) else c
    if mode == "whitespace":
        return F.size(tokenize(c)).cast("long")
    if mode == "bpe":
        return F.regexp_count(c, F.lit(_TOKEN_RE)).cast("long")
    raise ValueError(f"mode must be whitespace|bpe, got {mode!r}")


def char_ngrams(c: Column | str, n: int = 5) -> Column:
    """Character n-gram shingles → array<string> (may repeat).

    ``sequence`` + ``transform`` — JVM-side, one pass, no explode until
    the caller needs rows."""
    c = F.col(c) if isinstance(c, str) else c
    # F.sequence(a, b) descends when b < a — guard the too-short case
    return F.when(
        F.length(c) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(c) - F.lit(n - 1)),
            lambda i: c.substr(i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_shingles(c: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles over whitespace tokens → array<string>."""
    toks = tokenize(c)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - F.lit(n)),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bag_shingles(c: Column | str) -> Column:
    """COUNTED unigram shingles → array<string> of ``token#k`` for the
    k-th occurrence of each token (``"a a b" → [a#1, a#2, b#1]``).
    Plain MinHash over these equals MinHash of the weighted
    (term-frequency) set: multiset Jaccard Σmin(tfₐ,tf_b)/Σmax —
    repetition-sensitive where set shingles see "same vocabulary" as
    identical. Integer/string ops only, so any SQL engine reproduces
    the shingles byte-for-byte (the float ICWS sampler can't promise
    that).

    One run-length fold over the SORTED token array (occurrence index
    = position within the token's run) — O(len·log len) in-row, no
    shuffle, nothing expensive captured inside the lambda."""
    toks = F.array_sort(tokenize(c))
    init = F.struct(
        F.lit("").alias("p"),
        F.lit(0).alias("k"),
        F.array().cast("array<string>").alias("a"),
    )

    def step(acc, t):
        k = F.when(t == acc.getField("p"), acc.getField("k") + 1).otherwise(F.lit(1))
        return F.struct(
            t.alias("p"),
            k.alias("k"),
            F.concat(
                acc.getField("a"),
                F.array(F.concat_ws("#", t, k.cast("string"))),
            ).alias("a"),
        )

    return F.aggregate(toks, init, step, lambda acc: acc.getField("a"))


def quality_score(c: Column | str) -> Column:
    """Composite document quality in [0,1]: length band, alpha ratio,
    stopword presence, mean word length band — the classic cheap
    pre-filter before expensive dedup/scoring stages."""
    c = F.col(c) if isinstance(c, str) else c
    n_chars = F.length(c).cast("double")
    toks = tokenize(c)
    n_words = F.size(toks).cast("double")
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z ]", "")).cast("double")
    alpha_ratio = F.when(n_chars > 0, alpha / n_chars).otherwise(F.lit(0.0))
    sw = F.array([F.lit(w) for w in STOPWORDS["en"]])
    sw_hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("double")
    sw_ratio = F.when(n_words > 0, sw_hits / n_words).otherwise(F.lit(0.0))
    mean_wlen = F.when(n_words > 0, (n_chars - (n_words - 1)) / n_words).otherwise(F.lit(0.0))
    len_band = F.when((n_words >= 10) & (n_words <= 100000), F.lit(1.0)).otherwise(F.lit(0.0))
    wlen_band = F.when((mean_wlen >= 2.0) & (mean_wlen <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    score = (
        F.lit(0.25) * len_band
        + F.lit(0.25) * wlen_band
        + F.lit(0.25) * F.least(alpha_ratio * F.lit(1.25), F.lit(1.0))
        + F.lit(0.25) * F.least(sw_ratio * F.lit(5.0), F.lit(1.0))
    )
    return F.round(score, 4)


def lang_id(c: Column | str) -> Column:
    """Stopword-hit language ID over {en,de,fr,es} with deterministic
    tie-break (highest count, then alphabetical). Returns 'und' when no
    stopword hits at all — an n-gram heuristic, not a model."""
    c = F.col(c) if isinstance(c, str) else c
    toks = tokenize(c)
    scores = []
    for lang in sorted(STOPWORDS):
        sw = F.array([F.lit(w) for w in STOPWORDS[lang]])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    # array_max on struct compares (hits, lang) lexicographically; we
    # want max hits then MIN lang, so invert the lang for the compare
    best = F.array_max(
        F.array(
            [
                F.struct(
                    s.getField("hits").alias("hits"),
                    # 'zz...' minus lang would need custom collation; use
                    # negative index of the sorted list instead
                    F.lit(len(scores) - i).alias("prio"),
                    s.getField("lang").alias("lang"),
                )
                for i, s in enumerate(scores)
            ]
        )
    )
    return F.when(best.getField("hits") > 0, best.getField("lang")).otherwise(F.lit("und"))


def fingerprint(c: Column | str) -> Column:
    """Order-insensitive content fingerprint: md5-int64 of the sorted
    distinct token set — robust to word order and duplication, the
    cheap key for exact-after-normalization dedup."""
    c = F.col(c) if isinstance(c, str) else c
    canon = F.array_join(F.array_sort(F.array_distinct(tokenize(c))), " ")
    return hash64(canon)


def winnow_fingerprints(df, text_col: str, id_col: str, k: int = 5, window: int = 4):
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 —
    the MOSS plagiarism-detection algorithm, public): hash every
    ``k``-char gram, slide a ``window`` over the hash sequence, keep
    each window's minimum → a compact, position-aware fingerprint set
    that two documents share iff they share a sufficiently long
    substring. Guarantees: any match ≥ window+k-1 chars is caught.

    Returns ``(id, fp, pos)`` rows — the distinct selected
    fingerprints with their 0-based gram offsets. The windowed argmin
    runs on PACKED ``hash40 * 2^20 + pos`` int64s (``hash40`` = the
    first 10 hex digits of the gram's md5), so ties break to the
    leftmost position and an external SQL oracle reproduces every
    selection bit-for-bit; documents must stay under 2^20 grams (1M
    chars — chunk longer docs first). Grams are sliced by code point,
    as Spark ``substr`` does. A document with fewer than ``window``
    grams keeps its single minimum; one with no gram emits nothing.

    Shape: the winnow is per-document, so one ``mapInArrow`` kernel
    does grams → md5 → packed sliding minimum → per-doc distinct with
    ZERO shuffles (the per-doc ``np.unique`` equals a global distinct
    because ``pos`` packing makes duplicates impossible across
    documents). A row-based plan pays a full gram-row exchange + sort
    to feed a window function; an array-lambda plan loses worse —
    higher-order lambdas don't codegen, and Catalyst inlines the md5
    transform once per window branch."""
    import pyarrow as pa

    from ..io import ensure_min_partitions

    id_type = df.schema[id_col].dataType.simpleString()
    # under-split inputs (single-row-group files) would serialize the
    # md5 kernel onto one core; no-ops when the scan already splits
    src = ensure_min_partitions(df.select(id_col, text_col))
    mask = (1 << 20) - 1

    def gen(batches):
        import hashlib

        import numpy as np

        md5 = hashlib.md5
        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            idx: list = []
            sels: list = []
            for j, t in enumerate(texts):
                if not t:
                    continue
                if t.isascii():
                    s = t.encode()
                else:
                    s = t  # code-point slicing matches Spark substr
                m = len(s) - k + 1
                if m <= 0:
                    continue
                if isinstance(s, bytes):
                    it = (
                        int.from_bytes(md5(s[i : i + k]).digest()[:5], "big")
                        for i in range(m)
                    )
                else:
                    it = (
                        int.from_bytes(
                            md5(s[i : i + k].encode()).digest()[:5], "big"
                        )
                        for i in range(m)
                    )
                packed = (np.fromiter(it, dtype=np.int64, count=m) << 20) + np.arange(
                    m, dtype=np.int64
                )
                if m >= window:
                    n_out = m - window + 1
                    wins = packed[:n_out].copy()
                    for off in range(1, window):
                        np.minimum(wins, packed[off : off + n_out], out=wins)
                else:
                    wins = packed.min(keepdims=True)
                sel = np.unique(wins)
                idx.append(np.full(len(sel), j, dtype=np.int64))
                sels.append(sel)
            if idx:
                take = pa.array(np.concatenate(idx))
                sel = np.concatenate(sels)
                yield pa.RecordBatch.from_arrays(
                    [ids.take(take), pa.array(sel >> 20), pa.array(sel & mask)],
                    names=[id_col, "fp", "pos"],
                )

    return src.mapInArrow(gen, f"{id_col} {id_type}, fp bigint, pos bigint")


# ---------------------------------------------------------------------------
# repetition signals (Gopher-style quality filters)
# ---------------------------------------------------------------------------


def distinct_word_ratio(c: Column | str) -> Column:
    """distinct words / total words, 0.0 for empty text. High
    repetition (low ratio) is the classic generated/boilerplate
    signal. Pure array expressions — per-row, no shuffle."""
    toks = tokenize(c)
    n = F.size(toks)
    return F.when(
        n > 0, F.round(F.size(F.array_distinct(toks)).cast("double") / n, 4)
    ).otherwise(F.lit(0.0))


def top_word_frac(c: Column | str) -> Column:
    """Fraction of the text taken by its single most frequent word
    (the max-multiplicity token), 0.0 for empty text.

    The mode is found without any shuffle: sort the token array, then
    one ``aggregate`` pass tracks the longest equal-run — max
    multiplicity == longest run in a sorted array. Whole-stage codegen
    end to end."""
    toks = F.array_sort(tokenize(c))
    n = F.size(toks)
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit("").alias("prev"), zero.alias("run"), zero.alias("best")
    )
    run = lambda acc, w: F.when(w == acc.getField("prev"), acc.getField("run") + 1).otherwise(
        F.lit(1).cast("long")
    )
    best = F.aggregate(
        toks,
        init,
        lambda acc, w: F.struct(
            w.alias("prev"),
            run(acc, w).alias("run"),
            F.greatest(acc.getField("best"), run(acc, w)).alias("best"),
        ),
        lambda acc: acc.getField("best"),
    )
    return F.when(n > 0, F.round(best.cast("double") / n, 4)).otherwise(F.lit(0.0))


def dup_ngram_frac(c: Column | str, n: int = 5) -> Column:
    """Fraction of word n-grams that are repeats (1 - distinct/total),
    0.0 when the text has fewer than ``n`` words. Duplicate-n-gram
    fraction is the Gopher repetition filter; shingling and dedup stay
    inside one row's array — no explode, no shuffle."""
    grams = word_shingles(c, n)
    total = F.size(grams)
    return F.when(
        total > 0,
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / total, 4
        ),
    ).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

PII_PATTERNS: dict[str, str] = {
    # order matters for redaction: emails before bare domains would go
    # here; each pattern is RE2-safe (no backrefs) so it runs in codegen
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"(?:\+?\d{1,3}[-. ]{1,2})?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def pii_counts(c: Column | str) -> Column:
    """struct<email,phone,ipv4,ssn: long> — per-document PII hit counts
    via ``regexp_count`` (JVM regex, vectorized; no Python). The cheap
    audit pass a corpus runs before deciding to redact."""
    c = F.col(c) if isinstance(c, str) else c
    return F.struct(
        *[
            F.regexp_count(c, F.lit(pat)).cast("long").alias(name)
            for name, pat in PII_PATTERNS.items()
        ]
    )


def pii_redact(c: Column | str, kinds: list[str] | None = None) -> Column:
    """Replace each PII match with ``<KIND>`` (e.g. ``<EMAIL>``) —
    chained ``regexp_replace``, one codegen stage, no UDF. ``kinds``
    selects/orders the patterns (default: all, dict order — email
    first so phone/ipv4 never munch an address's digits)."""
    c = F.col(c) if isinstance(c, str) else c
    for name in kinds if kinds is not None else list(PII_PATTERNS):
        c = F.regexp_replace(c, PII_PATTERNS[name], f"<{name.upper()}>")
    return c


# ---------------------------------------------------------------------------
# collocation mining (PMI)
# ---------------------------------------------------------------------------


def pmi_collocations(
    df, text_col: str, min_count: int = 5, k: int = 100
):
    """Top-``k`` adjacent word pairs by pointwise mutual information —
    ``PMI(w1,w2) = ln(c12 * N / (c1 * c2))`` over whitespace tokens.
    The classic collocation detector (Church & Hanks, 1990): high-PMI
    pairs are multi-word expressions ("los angeles"), low-PMI pairs
    are chance neighbors. ``min_count`` suppresses the low-frequency
    pairs whose PMI is pure noise.

    Returns ``(w1, w2, c12, pmi_micro)`` with PMI quantized to int64
    micro-units (hash-stable; same trick as the DSIR weights).

    Scale shape: bigrams come from one ``arrays_zip(slice, slice)``
    explode (no self-join of token positions); bigram and unigram
    counts are two map-side-combined aggregations shuffling one row
    per distinct pair/word per partition; the corpus-total ``N`` is a
    1-row aggregate attached by broadcast equi-join (never a driver
    collect); the final top-k is a global ``orderBy().limit(k)`` —
    TakeOrdered, per-partition heaps, no full sort."""
    toks = tokenize(text_col)
    bigram = F.arrays_zip(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))).alias("w1"),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))).alias("w2"),
    )
    pairs = df.select(F.explode(bigram).alias("b")).select(
        F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    c12 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = uni.agg(F.sum("c").alias("N")).withColumn("_k", F.lit(1))
    # operand order mirrors the SQL oracle exactly: ln((c12*N)/(c1*c2))
    scored = (
        c12.filter(F.col("c12") >= min_count)
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2"), "w2")
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(total), "_k")
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.log(
                    (F.col("c12") * F.col("N")).cast("double")
                    / (F.col("c1").cast("double") * F.col("c2"))
                )
                * 1_000_000
            )
            .cast("bigint")
            .alias("pmi_micro"),
        )
    )
    return scored.orderBy(
        F.col("pmi_micro").desc(), F.col("w1"), F.col("w2")
    ).limit(k)


def char_entropy(c: Column | str) -> Column:
    """Shannon entropy of the character distribution, in int64
    micro-bits (entropy_bits * 1e6). Low entropy flags degenerate text
    (repeated chars, padding, binary junk) — a Gopher-style quality
    signal complementing the word-level repetition ratios.

    Per-term integer quantization: each character's contribution
    ``-p*log2(p)`` is rounded to micro-bits BEFORE the sum, so the
    total is an exact integer sum — identical in any engine and under
    any evaluation order (no float-summation-order drift).

    Cost is ONE pass over the sorted char array: run-length encoding
    inside a single ``aggregate`` fold, the per-run log evaluated
    lazily only when a run closes (CASE branches are conditional), so
    the work is O(len·log len) sort + O(len) scan + O(alphabet) logs.
    The previous formulation filtered the char array once per DISTINCT
    char — and because the array expression sat inside the lambda
    body, Catalyst re-evaluated the split itself per element:
    O(alphabet·len) with an array allocation per distinct char (the
    same projection-collapse trap fixed in span dedup). Empty text
    → 0."""
    c = F.col(c) if isinstance(c, str) else c
    s = F.array_sort(F.split(c, ""))
    n = F.length(c).cast("double")

    def contrib(cnt):
        d = cnt.cast("double")
        return F.when(cnt > 0, F.round(-(d / n) * F.log2(d / n) * 1_000_000).cast("bigint")).otherwise(F.lit(0).cast("bigint"))

    init = F.struct(
        F.lit("").alias("p"),
        F.lit(0).cast("bigint").alias("r"),
        F.lit(0).cast("bigint").alias("e"),
    )
    ent = F.aggregate(
        s,
        init,
        lambda acc, ch: F.when(
            ch == acc.getField("p"),
            F.struct(
                ch.alias("p"),
                (acc.getField("r") + 1).alias("r"),
                acc.getField("e").alias("e"),
            ),
        ).otherwise(
            F.struct(
                ch.alias("p"),
                F.lit(1).cast("bigint").alias("r"),
                (acc.getField("e") + contrib(acc.getField("r"))).alias("e"),
            )
        ),
        lambda acc: acc.getField("e") + contrib(acc.getField("r")),
    )
    return F.when(F.length(c) > 0, ent).otherwise(F.lit(0).cast("bigint"))


def skipgram_pairs(
    df, text_col: str, window: int = 2, min_count: int = 5, k: int = 100
):
    """Top-``k`` ordered skip-gram co-occurrence pairs: (w1, w2, cnt)
    where w2 follows w1 within ``window`` tokens — the co-occurrence
    statistic embedding trainers (word2vec/GloVe) consume. Unlike
    :func:`pmi_collocations` (adjacent pairs, PMI-scored), this counts
    wider windows raw.

    All pair generation is IN-ROW: one ``arrays_zip(slice, slice)``
    per offset, concatenated, then a single explode feeding one
    map-side-combined count — never a positions self-join. Top-k is
    ``orderBy().limit()`` = TakeOrdered."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    toks = tokenize(text_col)
    zips = [
        F.arrays_zip(
            F.slice(toks, 1, F.greatest(F.size(toks) - d, F.lit(0))).alias("w1"),
            F.slice(toks, 1 + d, F.greatest(F.size(toks) - d, F.lit(0))).alias("w2"),
        )
        for d in range(1, window + 1)
    ]
    pairs = df.select(
        F.explode(F.concat(*zips).alias("ps")).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    counts = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )
    return counts.orderBy(F.col("cnt").desc(), F.col("w1"), F.col("w2")).limit(k)


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(c: Column | str) -> Column:
    """The Gopher document-quality RULE SET (Rae et al. 2021,
    arXiv:2112.11446 §A1.1 — public) as a struct of per-rule booleans
    plus the conjunction ``passes``:

    - ``r_word_count``:    50 <= words <= 100,000
    - ``r_mean_word_len``: mean word length in [3, 10]
    - ``r_symbol_ratio``:  < 10% of words contain '#' or an ellipsis
    - ``r_bullet_lines``:  < 90% of non-empty lines start with a bullet
    - ``r_ellipsis_lines``: < 30% of non-empty lines end with ellipsis
    - ``r_alpha_words``:   > 80% of words contain a letter
    - ``r_stopwords``:     >= 2 distinct Gopher stop words present

    Every ratio test is INTEGER arithmetic (``10*sym < words`` instead
    of ``sym/words < 0.1``), so the booleans are engine-exact and
    oracle-checkable with no float rounding convention. Documents with
    zero non-empty lines pass the line rules vacuously. Pure
    expressions — runs at scan rate, the cheap pre-filter before
    dedup/scoring stages."""
    c = F.col(c) if isinstance(c, str) else c
    toks = tokenize(c)
    n_words = F.size(toks).cast("long")
    wchars = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    sym_words = F.size(
        F.filter(toks, lambda t: t.contains("#") | t.contains("...") | t.contains("…"))
    ).cast("long")
    lines = F.filter(
        F.split(c, "\n"), lambda ln: F.trim(ln) != F.lit("")
    )
    n_lines = F.size(lines).cast("long")
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda ln: F.ltrim(ln).startswith("•")
            | F.ltrim(ln).startswith("- ")
            | F.ltrim(ln).startswith("* "),
        )
    ).cast("long")
    ellipsis_lines = F.size(
        F.filter(
            lines,
            lambda ln: F.rtrim(ln).endswith("...") | F.rtrim(ln).endswith("…"),
        )
    ).cast("long")
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("long")
    sw = F.array([F.lit(w) for w in GOPHER_STOPWORDS])
    sw_hits = F.size(F.array_intersect(F.array_distinct(toks), sw)).cast("long")

    r_word_count = (n_words >= 50) & (n_words <= 100_000)
    r_mean_word_len = (wchars >= 3 * n_words) & (wchars <= 10 * n_words) & (n_words > 0)
    r_symbol_ratio = 10 * sym_words < n_words
    r_bullet_lines = 10 * bullet_lines < 9 * F.greatest(n_lines, F.lit(1).cast("long"))
    r_ellipsis_lines = 10 * ellipsis_lines < 3 * F.greatest(n_lines, F.lit(1).cast("long"))
    r_alpha_words = 5 * alpha_words > 4 * n_words
    r_stopwords = sw_hits >= 2
    passes = (
        r_word_count
        & r_mean_word_len
        & r_symbol_ratio
        & r_bullet_lines
        & r_ellipsis_lines
        & r_alpha_words
        & r_stopwords
    )
    return F.struct(
        r_word_count.alias("r_word_count"),
        r_mean_word_len.alias("r_mean_word_len"),
        r_symbol_ratio.alias("r_symbol_ratio"),
        r_bullet_lines.alias("r_bullet_lines"),
        r_ellipsis_lines.alias("r_ellipsis_lines"),
        r_alpha_words.alias("r_alpha_words"),
        r_stopwords.alias("r_stopwords"),
        passes.alias("passes"),
    )


def readability_micro(c: Column | str) -> Column:
    """Flesch reading-ease score in int64 micro-units — the classic
    readability screen (Flesch 1948; Kincaid 1975 regression family)
    used to band corpora by audience level. Counts are pure regexes:
    words = ``\\S+`` runs, sentences = ``[.!?]+`` runs (min 1),
    syllables ≈ ``[aeiouy]+`` vowel groups over the lowered text (the
    standard cheap approximation — whitespace and punctuation break
    groups, so summing per-word equals one pass over the text).

    ``206.835 − 1.015·(W/S) − 84.6·(Y/W)`` with each ratio term
    floor-divided to a whole micro BEFORE subtraction, so the score is
    engine- and order-exact (IEEE division of exact int64 operands is
    correctly rounded, so ``floor`` agrees across engines at these
    magnitudes; ~90+ = very easy, <30 = academic; token-dense noise
    goes deeply negative). NULL/wordless text scores 0. Pure
    expressions at scan rate — no shuffle, no UDF."""
    c = F.col(c) if isinstance(c, str) else c
    words = F.size(F.regexp_extract_all(c, F.lit(r"\S+"), F.lit(0))).cast("long")
    sents = F.greatest(
        F.size(F.regexp_extract_all(c, F.lit(r"[.!?]+"), F.lit(0))).cast("long"),
        F.lit(1).cast("long"),
    )
    syll = F.size(
        F.regexp_extract_all(F.lower(c), F.lit(r"[aeiouy]+"), F.lit(0))
    ).cast("long")
    score = (
        F.lit(206_835_000).cast("long")
        - F.floor(F.lit(1_015_000) * words / sents).cast("long")
        - F.floor(F.lit(84_600_000) * syll / words).cast("long")
    )
    return F.when(words > 0, score).otherwise(F.lit(0).cast("long"))


def tokens_per_byte_micro(c: Column | str) -> Column:
    """Compression-proxy quality signal: BPE-ish tokens per UTF-8
    byte, int64 micro-units (``10^6 * tokens / bytes``; 0 for empty
    text). Natural prose sits near 0.2 tokens/byte; token-dense noise
    (code spew, delimiter soup, non-language bytes) drives the ratio
    up and repetitive filler drives it down — a one-expression screen
    that needs no model. The denominator is ``octet_length`` (true
    encoded bytes, not characters) so multi-byte scripts read
    correctly. Integer-exact: micro-quantized BEFORE any aggregation,
    same convention as the retrieval log-ratios."""
    c = F.col(c) if isinstance(c, str) else c
    n_bytes = F.octet_length(c).cast("long")
    toks = token_count(c, mode="bpe")
    return F.when(
        n_bytes > 0, F.floor(F.lit(1_000_000) * toks / n_bytes).cast("long")
    ).otherwise(F.lit(0).cast("long"))



# single-char typographic fixes: curly quotes/primes -> straight,
# NBSP-family spaces -> plain space, en/em/horizontal-bar dashes and
# the minus sign -> '-'
_NORM_FROM = (
    "\u2018\u2019\u201a\u201b\u201c\u201d\u201e\u2032\u2033"
    "\u00a0\u2002\u2003\u2009\u202f\u3000"
    "\u2013\u2014\u2015\u2212"
)
_NORM_TO = (
    "\u0027\u0027\u0027\u0027\u0022\u0022\u0022\u0027\u0022"
    "\u0020\u0020\u0020\u0020\u0020\u0020"
    "\u002d\u002d\u002d\u002d"
)


def normalize_text(c: Column | str) -> Column:
    """Canonical text cleanup (the C4/CCNet-style normalization pass,
    public recipe): typographic quotes/primes/dashes/spaces -> ASCII
    (single-char ``translate`` -- one pass, no regex), zero-width and
    soft-hyphen characters stripped, C0/C1 control characters
    stripped, the ellipsis character -> ``...``, whitespace runs
    collapsed to one space, trimmed. Pure JVM expressions at scan
    rate; every step mirrored 1:1 in the SQL oracle.

    Unicode NFC is intentionally out of scope (Spark exposes no
    builtin normalizer; a Pandas-UDF pass with
    ``unicodedata.normalize`` is the documented escape hatch when a
    corpus needs it)."""
    c = F.col(c) if isinstance(c, str) else c
    t = F.translate(c, _NORM_FROM, _NORM_TO)
    # zero-width space/joiners, word joiner, BOM, soft hyphen: delete
    t = F.regexp_replace(t, "[\u200b\u200c\u200d\u2060\ufeff\u00ad]", "")
    # C0 controls (minus tab/newline/CR, which the whitespace collapse
    # handles) and DEL..C1
    t = F.regexp_replace(
        t, "[\u0000-\u0008\u000b\u000c\u000e-\u001f\u007f-\u009f]", ""
    )
    t = F.regexp_replace(t, "\u2026", "...")
    t = F.regexp_replace(t, "\\s+", " ")
    return F.trim(t)


def zipf_alpha(
    df: DataFrame,
    text_col: str,
    f_min: int = 2,
) -> DataFrame:
    """Zipf/power-law exponent MLE over the corpus word-frequency
    distribution (same continuous MLE as the graph degree fit,
    Clauset 2009: ``α = 1 + n / Σ ln(f/f_min)`` over word frequencies
    ≥ ``f_min``) — natural language sits near α ≈ 2; generated spam
    and delimiter soup drift far off, making this a one-row corpus
    health check. Per-word log terms micro-quantized before the sum
    (engine-exact); returns one row ``(n_words, f_min, max_freq,
    alpha_micro)``.

    One tokenize-explode count (map-side combined) + a single-row
    reduction over the VOCABULARY table."""
    if f_min < 1:
        raise ValueError(f"f_min must be >= 1, got {f_min}")
    freq = (
        df.select(F.explode(tokenize(text_col)).alias("_w"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_f"))
        .filter(F.col("_f") >= f_min)
    )
    lm = (
        F.round(F.log(F.col("_f").cast("double") / F.lit(float(f_min))) * 1_000_000)
        .cast("bigint")
        .alias("_lm")
    )
    return freq.select("_f", lm).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.lit(f_min).cast("long").alias("f_min"),
        F.max("_f").alias("max_freq"),
        F.expr(
            "CAST(CASE WHEN SUM(_lm) > 0 THEN "
            "1000000 + (CAST(COUNT(1) AS DECIMAL(38,0)) * 1000000000000)"
            " div SUM(_lm) ELSE 0 END AS LONG)"
        ).alias("alpha_micro"),
    )
