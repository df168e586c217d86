"""Deduplication — exact and near-duplicate, designed for 100 TB.

Scale posture per method:

- **exact**: one hash shuffle on the dedup key (map-side partial
  ``min_by``). Never ``dropDuplicates()`` over all columns at scale —
  hash the payload first so the shuffle carries 8 bytes, not the doc.
- **n-gram Jaccard (exact)**: explode shingles → self-join on shingle
  → count intersections. The shingle join is the scale hazard: hot
  shingles (boilerplate) explode quadratically — ``max_doc_freq``
  drops the head of the distribution (standard prefix filtering), AQE
  skew-join splits the rest.
- **MinHash+LSH**: fixed-size signature (K int32s) per doc regardless
  of length → band buckets → equi-join on (band, bucket). The join key
  is uniform by construction; candidate verification re-checks exact
  Jaccard only on the (tiny) candidate set. This is THE 100 TB path.
- **SimHash**: one 16-bit fingerprint per doc; near-dups collide
  exactly → a groupBy, no pairwise join at all.
- **embedding cosine**: blocked self-join (block = label/IVF cell),
  cosine inside the block only.

All hashes are md5-derived (see ``text.hash64``) so the DuckDB oracle
reproduces every signature bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bytewax_spark.functions._materialize import materialize
from bytewax_spark.functions.sketches import _digest_positions
from bytewax_spark.functions.text import hash64, tokenize, word_shingles
from bytewax_spark.io import _shuffle_partitions

__all__ = [
    "hamming_neighbor_pairs",
    "MINHASH_K",
    "MINHASH_P",
    "MINHASH_BANDS",
    "dedup_exact",
    "dedup_incremental",
    "dedup_bloom_incremental",
    "dedup_report",
    "bloom_build",
    "bloom_might_contain",
    "dedup_keep_best",
    "dedup_lines_global",
    "dedup_spans_global",
    "shingle_docs",
    "ngram_jaccard_pairs",
    "containment_pairs",
    "simhash_neighbor_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "minhash_lsh_recall",
    "minhash_lsh_verified_pairs",
    "minhash_lsh_pairs_incremental",
    "simhash",
    "embedding_cosine_pairs",
    "lsh_cosine_pairs",
    "lsh_cosine_recall",
    "semdedup",
]

MINHASH_K = 32          # signature length
MINHASH_P = 2147483647  # 2^31-1 (Mersenne); a*h+b stays < 2^62
MINHASH_BANDS = 8       # 8 bands x 4 rows
_MINHASH_A_MUL = 2654435761  # Knuth multiplicative constants — any
_MINHASH_B_MUL = 40503       # fixed odd constants work; shared with oracle


def dedup_exact(df: DataFrame, text_col: str, id_col: str, key: Column | None = None) -> DataFrame:
    """Exact dedup: keep the min-id row per content hash.

    ``key`` overrides the dedup key (e.g. ``text.fingerprint(...)`` for
    exact-after-canonicalization dedup). Shuffles (hash, id) only — at
    100 TB the doc bodies never move; survivors are recovered by a
    self-semi-join on the id."""
    h = (key if key is not None else hash64(text_col)).alias("_h")
    keep = (
        df.select(h, F.col(id_col))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def dedup_report(
    before: DataFrame,
    after: DataFrame,
    group_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-group impact report of a dedup (or any filtering) pass —
    the observability leg of the dedup suite next to the recall/
    precision audits: one row per ``group_col`` value (source, domain,
    language, shard) with ``(n_before, n_after, n_removed,
    removed_ppm)`` plus ``(w_before, w_after)`` sums of ``weight_col``
    (chars, tokens, bytes) when given — "which sources did the dedup
    actually eat" is the first question after any corpus-scale pass.
    Groups absent from ``after`` report 0 survivors (fully deduped);
    groups that appear only in ``after`` are a pipeline bug and
    surface as NULL ``n_before`` rather than being silently dropped.

    Scale shape: two independent map-side-combined groupBy
    aggregations (group-key shuffles carry one row per group per
    partition, never documents) + one tiny group-key outer join —
    nothing pairwise, nothing driver-side."""
    def aggs(side: str):
        out = [F.count(F.lit(1)).alias(f"n_{side}")]
        if weight_col is not None:
            out.append(F.sum(weight_col).alias(f"w_{side}"))
        return out

    b = before.groupBy(group_col).agg(*aggs("before"))
    a = after.groupBy(group_col).agg(*aggs("after"))
    joined = b.join(a, group_col, "full_outer")
    cols = [
        group_col,
        "n_before",
        F.coalesce("n_after", F.lit(0)).alias("n_after"),
        (F.col("n_before") - F.coalesce("n_after", F.lit(0))).alias("n_removed"),
        F.expr(
            "(1000000L * (n_before - coalesce(n_after, 0L))) div n_before"
        ).alias("removed_ppm"),
    ]
    if weight_col is not None:
        cols += ["w_before", F.coalesce("w_after", F.lit(0)).alias("w_after")]
    return joined.select(*cols)


def dedup_incremental(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str,
    id_col: str,
    key: Column | None = None,
) -> DataFrame:
    """Incremental exact dedup: rows of ``new_df`` that survive both
    (a) dedup within the batch (min-id per hash wins) and (b) an
    anti-join against the already-ingested corpus ``seen_df`` — the
    daily-crawl shape, where the seen side is orders of magnitude
    larger than the batch.

    Only 16-byte hashes (plus the batch ids) ever shuffle: the seen
    corpus reduces to its hash column before the anti-join, and the
    anti-join's build side is the (smaller) batch when Spark plans it
    broadcast. ``key`` overrides the dedup key on BOTH sides (e.g.
    ``text.fingerprint`` for canonicalized dedup)."""
    h = (key if key is not None else hash64(text_col)).alias("_h")
    batch = dedup_exact(new_df, text_col, id_col, key).withColumn("_h", h)
    seen = seen_df.select(h)
    return batch.join(seen, "_h", "left_anti").drop("_h")


# powers of two as a plan literal (bit 63 is int64's sign bit) — lets
# build and probe select a bit mask by a COLUMN index, which
# shiftleft() can't do (its shift count is a Python int)
_POW2 = [1 << i for i in range(63)] + [-(1 << 63)]


def bloom_build(
    df: DataFrame, key: Column | str, m_bits: int, n_hashes: int = 4
) -> list[int]:
    """Build a Bloom filter over ``key`` as a dense list of ``m_bits/64``
    int64 words — pure expressions end to end (k seeded md5 positions
    per row → (word, bit) → one ``bit_or`` aggregation).

    The driver materialization is bounded by the CHOSEN ``m_bits``
    (m/64 rows), never by the corpus: a 2^27-bit filter is 16 MB
    regardless of whether it summarizes 1 GB or 100 TB of keys. Size
    ``m_bits`` ≈ 10 bits/key for ~1% false positives (classic Bloom
    sizing); false positives only cost extra rows in the caller's exact
    confirm step, never wrong answers."""
    assert m_bits % 64 == 0, "m_bits must be a multiple of 64"
    key = F.col(key) if isinstance(key, str) else key
    pos = F.array(_digest_positions(key, m_bits, n_hashes, "bf"))
    pow2 = F.lit(_POW2)
    rows = (
        df.select(F.explode(pos).alias("_p"))
        .select(
            (F.col("_p") / 64).cast("int").alias("_w"),
            F.element_at(pow2, F.pmod(F.col("_p"), F.lit(64)).cast("int") + 1).alias("_m"),
        )
        .groupBy("_w")
        .agg(F.bit_or("_m").alias("_bits"))
        .collect()
    )
    words = [0] * (m_bits // 64)
    for r in rows:
        words[r["_w"]] = r["_bits"]
    return words


def bloom_might_contain(
    words: list[int], key: Column | str, m_bits: int, n_hashes: int = 4
) -> Column:
    """Membership probe against a ``bloom_build`` filter: the bit array
    rides the PLAN as an array literal (broadcast with the task binary,
    no shuffle, no join), the k bit tests are map-side bitwise
    expressions. False positives possible; false negatives never."""
    key = F.col(key) if isinstance(key, str) else key
    arr = F.lit(words)
    pow2 = F.lit(_POW2)
    cond = None
    for p in _digest_positions(key, m_bits, n_hashes, "bf"):
        word = F.element_at(arr, (p / 64).cast("int") + 1)
        mask = F.element_at(pow2, F.pmod(p, F.lit(64)).cast("int") + 1)
        hit = word.bitwiseAND(mask) != 0
        cond = hit if cond is None else cond & hit
    return cond


def dedup_bloom_incremental(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str,
    id_col: str,
    key: Column | None = None,
    m_bits: int = 1 << 20,
    n_hashes: int = 4,
) -> DataFrame:
    """``dedup_incremental`` with a Bloom pre-filter on the seen corpus
    — same answer, different data movement. The seen side compresses to
    an ``m_bits`` Bloom filter (one bounded aggregation, built once per
    corpus in production and reused across daily batches); batch rows
    the filter rejects are PROVABLY novel and skip the anti-join
    entirely, so only Bloom-positives (true dupes + the ~1% false
    positives) shuffle against the seen hashes for exact confirmation.
    On a mostly-novel crawl batch that removes ~99% of the anti-join's
    probe side; result is bit-identical to ``dedup_incremental``."""
    h = (key if key is not None else hash64(text_col)).alias("_h")
    batch = dedup_exact(new_df, text_col, id_col, key).withColumn("_h", h)
    words = bloom_build(seen_df.select(h), "_h", m_bits, n_hashes)
    probe = bloom_might_contain(words, F.col("_h"), m_bits, n_hashes)
    novel = batch.filter(~probe)
    maybe = batch.filter(probe).join(seen_df.select(h), "_h", "left_anti")
    return novel.unionByName(maybe).drop("_h")


def dedup_exact_stream(
    df: DataFrame, text_col: str, watermark_col: str, delay: str, key: Column | None = None
) -> DataFrame:
    """Streaming exact dedup: first-seen row per content hash wins,
    with state bounded by the watermark
    (``dropDuplicatesWithinWatermark`` — duplicates arriving within
    ``delay`` of each other are suppressed; state for hashes older
    than the watermark is evicted, so this runs forever at 100 TB/day
    instead of accreting an unbounded seen-set)."""
    h = (key if key is not None else hash64(text_col)).alias("_h")
    return (
        df.withColumn("_h", h)
        .withWatermark(watermark_col, delay)
        .dropDuplicatesWithinWatermark(["_h"])
        .drop("_h")
    )


def dedup_lines_global(
    df: DataFrame, text_col: str, id_col: str, out_col: str | None = None
) -> DataFrame:
    """CORPUS-WIDE exact line dedup, C4-style (Raffel et al. 2020
    §2.2 — public): every line that appears anywhere in the corpus
    survives only in its first occurrence (min (doc_id, line_no));
    documents are reassembled from their surviving lines in order.
    Documents whose lines all lose come back with empty text — row
    count is preserved.

    Scale shape: explode to (id, line_no, line) → one shuffle
    partitioned by (line-hash, line) for the first-occurrence rank
    (hashing first keeps partition routing cheap; the line rides the
    row either way) → one shuffle back on id to rebuild. Boilerplate
    lines (nav bars, cookie banners) are exactly the hot keys here —
    rank-1-of-group is skew-tolerant because only the winner row
    survives the aggregation's map side... but the rank itself must
    see all copies; AQE skew splitting handles the hot line groups."""
    from pyspark.sql import Window

    out_col = out_col or text_col
    lines = df.select(
        F.col(id_col), F.posexplode(F.split(text_col, "\n")).alias("_ln", "_line")
    )
    h = hash64(F.col("_line"))
    w = Window.partitionBy(h, F.col("_line")).orderBy(F.col(id_col), F.col("_ln"))
    keep = lines.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") == 1)
    rebuilt = keep.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_ln", "_line"))),
                lambda s: s.getField("_line"),
            ),
        ).alias("_rebuilt")
    )
    return (
        df.join(rebuilt, id_col, "left")
        .withColumn(out_col, F.coalesce(F.col("_rebuilt"), F.lit("")))
        .drop("_rebuilt")
    )


def shingle_docs(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, shingle_hash) distinct rows — the exploded form shared by
    Jaccard and MinHash. Hashing the shingle BEFORE the explode keeps
    the shuffled rows at 16 bytes."""
    return (
        _spread(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(word_shingles(text_col, n)).alias("_sh"))
        .select(id_col, hash64(F.col("_sh")).alias("shingle"))
        .distinct()
    )


def _rarest_first(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(sh, freq, docs)``: the ``(id, shingle)`` rows, each shingle's
    document frequency ``_freq``, and per doc ``(_id, _toks, _size)``
    with its shingles ordered rarest-first (a global (freq, shingle)
    order makes prefixes consistent across docs). ``sh`` and ``docs``
    are exploding slivers, recomputed per consumer (see
    ``_materialize``)."""
    sh = shingle_docs(df, text_col, id_col, n)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_freq"))
    docs = (
        sh.join(freq, "shingle")
        .groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("_freq", "shingle"))).alias("_ord"),
            F.count(F.lit(1)).alias("_size"),
        )
        .select(
            F.col(id_col).alias("_id"),
            F.transform("_ord", lambda s: s["shingle"]).alias("_toks"),
            "_size",
        )
    )
    return sh, freq, docs


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard ≥ t)
    via prefix filtering (PPJoin family: Xiao et al., WWW'08 — public
    algorithm).

    A naive shingle self-join detonates on high-document-frequency
    shingles (one shingle shared by 25k docs → 625M candidate rows; it
    OOMs at sf0.1 already). Prefix filtering is EXACT for a given
    threshold: order each doc's shingles globally by rarity; two sets
    with J ≥ t must share at least one shingle inside each one's first
    ``|s| - ceil(t·|s|) + 1`` shingles. Candidates come only from
    those prefixes (hot shingles land in almost no prefix), plus the
    length filter ``t·|a| ≤ |b| ≤ |a|/t``; each surviving pair is then
    verified with one ``array_intersect`` over the full sets — no
    quadratic key ever shuffles.
    """
    _, _, docs = _rarest_first(df, text_col, id_col, n)
    prefix_len = (F.col("_size") - F.ceil(F.lit(threshold) * F.col("_size")) + 1).cast("int")
    prefix = docs.select(
        "_id", "_size", F.explode(F.slice("_toks", F.lit(1), prefix_len)).alias("_tok")
    )
    pa = prefix.select(F.col("_id").alias("id_a"), F.col("_size").alias("_sa"), "_tok")
    pb = prefix.select(F.col("_id").alias("id_b"), F.col("_size").alias("_sb"), "_tok")
    cand = (
        pa.join(pb, "_tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("_sb") * threshold <= F.col("_sa"))
            & (F.col("_sa") * threshold <= F.col("_sb"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    da = docs.select(F.col("_id").alias("id_a"), F.col("_toks").alias("_ta"), F.col("_size").alias("_sa"))
    db = docs.select(F.col("_id").alias("id_b"), F.col("_toks").alias("_tb"), F.col("_size").alias("_sb"))
    inter = F.size(F.array_intersect("_ta", "_tb"))
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .withColumn("jaccard", F.round(inter / (F.col("_sa") + F.col("_sb") - inter), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _minhash_wide(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    k: int,
    extra_cols: tuple[str, ...] = (),
    shingler=None,
) -> DataFrame:
    """(id, mh1..mhK) — K permutation minima as WIDE COLUMNS.

    h_i(x) = (a_i * (x mod P) + b_i) mod P with a_i, b_i derived from
    fixed multiplicative constants (i in 1..K); a_i·x < 2^62, no
    overflow. One shingle explode, then a single groupBy(id) whose K
    ``min`` aggregates each apply their permutation map-side — all
    whole-stage codegen. This shape was chosen over two slower ones:
    exploding (shingle × K) rows into a groupBy(id, i) pushes K× the
    rows through the aggregate, and per-row array_min/transform
    formulations run interpreted (higher-order lambdas don't codegen).
    No distinct on shingles — duplicates can't change a minimum.
    Docs with zero shingles produce no group, hence no row.
    ``extra_cols`` ride along through the aggregation (e.g. a side
    marker for incremental dedup). ``shingler`` overrides the shingle
    expression (default: word n-grams) — e.g. ``text.bag_shingles``
    for term-frequency-weighted MinHash."""
    shingles = (
        shingler(F.col(text_col)) if shingler else word_shingles(text_col, n)
    )
    sh = _spread(df.select(F.col(id_col), F.col(text_col), *extra_cols)).select(
        F.col(id_col), *extra_cols, F.explode(shingles).alias("_s")
    ).select(
        id_col, *extra_cols, F.pmod(hash64(F.col("_s")), F.lit(MINHASH_P)).alias("_h")
    )
    mins = [
        F.min(
            F.pmod(
                F.lit((i * _MINHASH_A_MUL) % MINHASH_P) * F.col("_h")
                + F.lit((i * _MINHASH_B_MUL + 17) % MINHASH_P),
                F.lit(MINHASH_P),
            )
        ).alias(f"_mh{i}")
        for i in range(1, k + 1)
    ]
    return sh.groupBy(id_col, *extra_cols).agg(*mins)


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, k: int = MINHASH_K
) -> DataFrame:
    """(id, i, minhash) — K permutation minima per doc (the exploded
    row shape; see ``_minhash_wide`` for the computation)."""
    wide = _minhash_wide(df, text_col, id_col, n, k)
    return wide.select(
        F.col(id_col),
        F.posexplode(F.array([F.col(f"_mh{i}") for i in range(1, k + 1)])).alias(
            "_i0", "minhash"
        ),
    ).select(id_col, (F.col("_i0") + 1).alias("i"), "minhash")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    shingler=None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH (id_a < id_b).

    Signature rows → per-(doc, band) bucket key (md5 of the band's
    minima in i-order) → equi-join on (band, bucket). At 100 TB the
    bucket join replaces the quadratic shingle join; callers verify
    candidates with exact Jaccard on the candidate set only.

    Shape: SIGNATURE-CLASS pairing, distinct-free. A doc-level
    self-join + ``distinct`` melts down on dup-heavy corpora: on the
    sf1 bench data (50k docs, of which whole clusters are
    near-identical) the bucket join materialized 549M pair slots
    and the distinct shuffled+hashed ~275M rows — 385 s on the bench
    host, with the hottest (band, bucket) holding 19,910 docs. But
    those 50k docs collapse to 2,646 DISTINCT full signatures, so:

    1. group docs by their full banded signature (one small agg) into
       classes ``(_sig, sorted ids)``;
    2. same-class docs are trivially candidates: generate each
       unordered pair once from the sorted id array (posexplode ×
       stepped-sequence stripes, so a 7k-doc class's ~24M pairs spread
       over the cluster instead of one task);
    3. classes (not docs) bucket-join on (band, bucket) — thousands of
       rows, not hundreds of thousands — oriented by each class's min
       id and de-duplicated across bands by a FIRST-MATCHING-BAND
       filter (codegen comparisons on the carried signature arrays);
       the surviving class pairs then expand to id pairs via one
       explode of the left class's ids plus a join back to the small
       (class, id) table — never by carrying both id arrays through a
       double explode, whose per-row array copies OOM'd a 12 g heap
       at sf1.

    Every unordered candidate pair appears exactly once by
    construction (classes partition the docs; a class pair survives
    only at its first shared band), so no ``distinct`` — the 275M-row
    exchange and its 200M-entry hash maps are gone; the only shuffles
    left are the signature aggregation, the tiny class agg, and the
    class-level join. Value-identical to the doc-level self-join (same
    candidate set; oracle hash-exact), measured 385 s → ~8 s at sf1."""
    shuffle_parts = _shuffle_partitions(df)
    wide = _minhash_wide(df, text_col, id_col, n, k, shingler=shingler)
    sig = wide.select(F.col(id_col), _band_buckets(k, bands).alias("_sig"))
    cls = (
        sig.groupBy("_sig")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("_ids"))
        .select(
            "_sig",
            "_ids",
            F.element_at("_ids", 1).alias("_min"),
            F.size("_ids").alias("_m"),
        )
    )
    cls = materialize(
        cls,
        "one row per distinct signature, read by the within-class pairs, "
        "both class-join sides and the expand-back table",
    )
    # (a) within-class pairs: ids are sorted, so posexplode × slice
    # emits each unordered pair once. Stripes: index i goes to stripe
    # i % C, one row per (class, stripe) round-robined so a hot class
    # fans out over the cluster; the stepped sequence regenerates the
    # stripe's indices after the shuffle (ships C array copies per
    # class, not one per element).
    C = 32
    stripes = (
        cls.filter(F.col("_m") >= 2)
        .select(
            "_ids",
            "_m",
            F.explode(
                F.sequence(
                    F.lit(0), F.least(F.lit(C - 1), F.col("_m") - 2)
                )
            ).alias("_c"),
        )
        .repartition(shuffle_parts)
        .select(
            "_ids",
            F.explode(
                F.sequence(F.col("_c"), F.col("_m") - 2, F.lit(C))
            ).alias("_i"),
        )
    )
    within = stripes.select(
        F.element_at("_ids", F.col("_i") + 1).alias("id_a"),
        F.explode(
            F.slice("_ids", F.col("_i") + 2, F.size("_ids"))
        ).alias("id_b"),
    )
    # (b) cross-class pairs via the class-level bucket join
    ca = cls.select(
        F.col("_min").alias("_mina"),
        F.col("_ids").alias("_idsa"),
        F.col("_sig").alias("_siga"),
        F.posexplode("_sig").alias("band", "bucket"),
    )
    cb = cls.select(
        F.col("_min").alias("_minb"),
        F.col("_ids").alias("_idsb"),
        F.col("_sig").alias("_sigb"),
        F.posexplode("_sig").alias("band", "bucket"),
    )
    first_band = F.lit(True)
    for e in range(bands - 1):
        first_band = first_band & (
            (F.col("band") <= F.lit(e))
            | (
                F.element_at("_siga", e + 1)
                != F.element_at("_sigb", e + 1)
            )
        )
    cp = (
        ca.join(cb, ["band", "bucket"])
        .filter(F.col("_mina") < F.col("_minb"))
        .filter(first_band)
    )
    # expand class pairs to id pairs: explode the left ids (payload is
    # just the 8-byte right-class key), spread round-robin so one hot
    # class pair's expansion fans out, then join the right ids back
    # from the small (class-min, id) table
    by_class = cls.select(
        F.col("_min").alias("_minb"), F.explode("_ids").alias("_xb")
    )
    cross = (
        cp.select(F.explode("_idsa").alias("_xa"), "_minb")
        .repartition(shuffle_parts)
        .join(by_class, "_minb")
        .select(
            F.least("_xa", "_xb").alias("id_a"),
            F.greatest("_xa", "_xb").alias("id_b"),
        )
    )
    return within.unionByName(cross)


def minhash_lsh_verified_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    threshold: float = 0.5,
    shingler=None,
) -> DataFrame:
    """MinHash-LSH candidates VERIFIED with exact Jaccard — the full
    production near-dup product (candidates alone over-report; a real
    pipeline always re-checks). Returns (id_a, id_b, jaccard ≥ t).

    Scale shape: the quadratic work is bounded by the LSH candidate
    set (bucket-join, uniform keys); exact Jaccard then runs ONCE per
    candidate pair via each side's distinct-shingle array —
    ``array_intersect`` inside a projection, no extra shuffle beyond
    the two id equi-joins that re-attach the (id, shingle-array) table.
    The shingle arrays never self-join, and they are built IN-ROW
    (``array_distinct`` over the shingle transform) — the exploded
    (id, shingle) form would pay an explode + groupBy/collect shuffle
    just to reassemble what each row already had."""
    cand = minhash_lsh_pairs(df, text_col, id_col, n, k, bands, shingler=shingler)
    sets = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.array_sort(
            F.array_distinct(
                F.transform(
                    shingler(F.col(text_col)) if shingler else word_shingles(text_col, n),
                    hash64,
                )
            )
        ).alias("_toks"),
    )
    da = sets.select(F.col(id_col).alias("id_a"), F.col("_toks").alias("_ta"))
    db = sets.select(F.col(id_col).alias("id_b"), F.col("_toks").alias("_tb"))
    inter = F.size(F.array_intersect("_ta", "_tb"))
    union = F.size("_ta") + F.size("_tb") - inter
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    k: int,
    bands: int,
    extra_cols: tuple[str, ...] = (),
    shingler=None,
) -> DataFrame:
    """(id[, extra...], band, bucket) LSH rows — the shared banding step."""
    wide = _minhash_wide(df, text_col, id_col, n, k, extra_cols, shingler=shingler)
    return wide.select(
        F.col(id_col),
        *extra_cols,
        F.posexplode(_band_buckets(k, bands)).alias("band", "bucket"),
    )


def _band_buckets(k: int, bands: int) -> Column:
    """The array of a ``_minhash_wide`` row's band bucket keys: band
    ``j`` is the md5 of its ``k // bands`` minima (``_mh{i}``, in
    i-order) joined with commas."""
    r = k // bands
    minima = [F.col(f"_mh{i}").cast("string") for i in range(1, bands * r + 1)]
    return F.array(
        *[F.md5(F.concat_ws(",", *minima[j * r : (j + 1) * r])) for j in range(bands)]
    )


def minhash_lsh_recall(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
    threshold: float = 0.5,
) -> DataFrame:
    """Recall AND precision audit of banded MinHash-LSH against EXACT
    n-gram Jaccard — the parameter-tuning gate before trusting a
    (k, bands) choice on a real corpus. One row
    ``(n_true, n_cand, n_caught, recall_ppm, precision_ppm)``:
    ``n_true`` counts the exact Jaccard >= ``threshold`` pairs
    (:func:`ngram_jaccard_pairs`, PPJoin prefix-filtered — exact, no
    quadratic shingle join), ``n_cand`` the banded LSH candidates
    (:func:`minhash_lsh_pairs`, same shingling), ``n_caught`` their
    intersection. ``recall_ppm = n_caught/n_true`` grades parameter
    SAFETY (missed true dups survive dedup); ``precision_ppm =
    n_caught/n_cand`` grades verification COST (each false candidate
    buys one wasted exact-Jaccard check downstream). Ratios read
    1,000,000 when their denominator is 0 (vacuous). The theoretical
    recall curve is ≈ 1-(1-J^(k/bands))^bands; this measures the real
    thing on the real corpus.

    Scale shape: candidates are the production banded join; truth is
    prefix-filtered exact — the audit's cost driver, so at corpus
    scale run it on a uniform document SAMPLE
    (:func:`bytewax_spark.functions.sampling.sample_fraction`) the
    same way the kNN label audit samples probes; the estimates are
    unbiased because sampling documents subsamples pairs uniformly.
    The caught-join is a pair-key semi-join — linear in the true-pair
    count."""
    truth = ngram_jaccard_pairs(
        df, text_col, id_col, n=n, threshold=threshold
    ).select("id_a", "id_b")
    cand = minhash_lsh_pairs(df, text_col, id_col, n=n, k=k, bands=bands)
    caught = truth.join(cand, ["id_a", "id_b"], "left_semi")
    t = truth.agg(F.count(F.lit(1)).alias("n_true"))
    k_ = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    c = caught.agg(F.count(F.lit(1)).alias("n_caught"))
    vac = F.lit(1_000_000).cast("long")
    return t.crossJoin(k_).crossJoin(c).select(
        "n_true",
        "n_cand",
        "n_caught",
        F.when(F.col("n_true") == 0, vac)
        .otherwise(F.expr("(n_caught * 1000000L) div n_true"))
        .alias("recall_ppm"),
        F.when(F.col("n_cand") == 0, vac)
        .otherwise(F.expr("(n_caught * 1000000L) div n_cand"))
        .alias("precision_ppm"),
    )


def minhash_lsh_pairs_incremental(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = MINHASH_K,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """Near-dup candidates of a NEW batch against the already-ingested
    corpus — the daily-crawl shape (``dedup_incremental``'s exact
    anti-join, upgraded to MinHash). Returns (new_id, seen_id) pairs
    whose LSH band buckets collide; callers drop ``new_id`` matches or
    verify with exact Jaccard on the candidate set.

    Scale: both sides reduce to (id, band, bucket) rows before the
    equi-join — the seen corpus ships 16-byte buckets, never text —
    and the signatures for BOTH sides come from ONE union-tagged
    pass (a side marker rides the aggregation), so every document is
    scanned and shingle-exploded once: each join side's filter on the
    marker prunes the pass to that side's rows. In production the seen
    side's signature table is a PERSISTED
    artifact (write ``_banded``'s output once per ingest and append),
    so each daily batch costs one signature pass over the batch plus
    a bucket join, not a rescan of the corpus. No self-join:
    new×seen only, so a batch never pairs with itself here (run
    ``minhash_lsh_pairs`` within the batch for that)."""
    tag = lambda df, side: df.select(  # noqa: E731
        F.col(id_col), F.col(text_col), F.lit(side).alias("_side")
    )
    both = tag(new_df, 0).unionByName(tag(seen_df, 1))
    banded = _banded(both, text_col, id_col, n, k, bands, extra_cols=("_side",))
    nb = banded.filter(F.col("_side") == 0).select(
        F.col(id_col).alias("new_id"), "band", "bucket"
    )
    sb = banded.filter(F.col("_side") == 1).select(
        F.col(id_col).alias("seen_id"), "band", "bucket"
    )
    return nb.join(sb, ["band", "bucket"]).select("new_id", "seen_id").distinct()


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """(id, simhash) — per-doc SimHash fingerprint over token hashes.

    Near-dup docs differ in few bits; at scale group directly on the
    fingerprint (or on rotated bands for hamming>0 tolerance) — no
    pairwise join.

    Shape (the ``_minhash_wide`` posture): explode DISTINCT tokens
    to rows, hash each token ONCE in a whole-stage-codegen projection,
    then one ``groupBy(id)`` whose ``bits`` ``sum`` votes all run
    map-side partial aggregation — the shuffle carries one
    (id, votes...) row per doc per partition. The previous array-only
    form (``aggregate`` HOF per bit) evaluated interpreted AND inlined
    the full tokenize+md5 pipeline into every bit's lambda (no
    cross-expression CSE on the CodegenFallback path): 16 bits × the
    whole corpus re-hashed 16× (measured in its plan dump — 16
    ``aggregate(transform(...md5...))`` copies in one projection).
    ``explode_outer`` keeps zero-token docs (null/empty text): their
    ``_h`` is null, votes stay null (the ±1 term guards on non-null),
    and the fp falls to 0 exactly as the array form produced."""
    toks = F.array_distinct(tokenize(text_col))
    rows = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode_outer(toks).alias("_t")
    ).select(
        id_col, F.pmod(hash64(F.col("_t")), F.lit(1 << bits)).alias("_h")
    )
    votes = [
        F.sum(
            F.when(
                F.pmod(F.shiftright(F.col("_h"), i), F.lit(2)) == 1, F.lit(1)
            ).when(F.col("_h").isNotNull(), F.lit(-1))
        ).alias(f"_v{i}")
        for i in range(bits)
    ]
    agg = rows.groupBy(id_col).agg(*votes)
    fp = None
    for i in range(bits):
        bit = F.when(F.col(f"_v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return agg.select(F.col(id_col), fp.cast("long").alias("simhash"))


def _spread(df: DataFrame) -> DataFrame:
    """Parallelism guard for md5-heavy stages that sit directly on a
    scan: single-row-group parquet files give the scan ONE split, so
    the hash/explode projection serializes onto one core. No-op when
    the scan already splits (always true at scale) — see
    :func:`bytewax_spark.io.ensure_min_partitions`. Only call on
    scan+project frames (a frame with upstream exchanges would be
    planned eagerly by the ``.rdd`` probe under AQE)."""
    from ..io import ensure_min_partitions

    return ensure_min_partitions(df)


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding near-dup pairs within blocks (id_a < id_b, cos ≥ t).

    Blocked: cosine is only computed inside ``block_col`` groups
    (label, IVF cell, LSH bucket) — the 100 TB pattern where the
    all-pairs join is impossible. Rows with a NULL block key or a NULL
    id are dropped before grouping (they belong to no block; a NULL id
    is in no ``id_a < id_b`` pair). A row whose
    vector is NULL or has zero norm has no cosine: it is dropped
    before scoring.

    One ``applyInPandas`` kernel per block: the block's vectors arrive
    once and ``similarity._pairs_above`` scores them with
    ``similarity._cosine_blocks`` (numpy, rounded HALF-UP to 6 dp BEFORE
    the ``>= threshold`` test, row blocks <= 64 MB), so boundary pairs
    match a SQL oracle; pairs are kept by ``id_a < id_b`` on the ids
    themselves, so a duplicated id pairs with nothing of its own id.
    Only surviving (id_a, id_b, cosine) rows return.

    Parallelism is PINNED, not left to the optimizer: the input is
    explicitly repartitioned to ``spark.sql.shuffle.partitions`` on the
    block key. The shuffled bytes are tiny (narrow id + vector
    projections) but the downstream cost is per-PAIR — quadratic in
    block size — which AQE cannot see, so without the explicit count
    it coalesces the exchange and the whole comparator pass
    serializes into a handful of tasks (measured 12x degradation
    under contention; same trap fixed in ``linkage.fuzzy_self_pairs``).
    The explicit-count HashPartitioning satisfies applyInPandas'
    clustering requirement, so no second exchange is added."""
    from bytewax_spark.functions.similarity import (
        _KERNEL_BLOCK_BYTES,
        _pairs_above,
        _scorable_rows,
    )

    id_dt = df.schema[id_col].dataType.simpleString()
    schema = f"id_a {id_dt}, id_b {id_dt}, cosine double"
    block_bytes = _KERNEL_BLOCK_BYTES  # bind by value: ships to executors

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf, v, norms = _scorable_rows(pdf)
        ids = pdf[id_col].to_numpy()
        return _pairs_above(ids, v, norms, ids, v, norms, threshold, block_bytes)

    src = df.filter(F.col(block_col).isNotNull() & F.col(id_col).isNotNull()).select(
        F.col(id_col),
        F.col(block_col).alias("_blk"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    src = src.repartition(_shuffle_partitions(df), "_blk")
    return src.groupBy("_blk").applyInPandas(kernel, schema)


def lsh_cosine_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dims: int,
    n_planes: int | None = None,
    threshold: float = 0.9,
    seed: int = 42,
    target_bucket_rows: int = 4096,
    multiprobe: int = 0,
) -> DataFrame:
    """Embedding near-dup pairs on an UNblocked table: LSH buckets as
    the blocking key, exact cosine inside each bucket. A row whose
    vector is NULL or has zero norm has no cosine: it is dropped
    before scoring.

    The scale path when no natural block (label, cell) exists: the
    bucket is a map-side expression (plan-time hyperplane literals —
    see ``similarity.lsh_bucket_col``), so the only shuffle is the one
    on the ~2^n_planes uniform bucket keys. At 100 TB the candidate
    set is |bucket|-bounded instead of N². ``multiprobe=0`` runs
    :func:`embedding_cosine_pairs` with the bucket as the block.

    ``n_planes=None`` (default) sizes the bucket space from the table:
    one ``df.count()`` at plan-construction time (cheap — parquet
    row-group metadata under a trivial scan) feeds
    ``similarity.adaptive_n_planes``, keeping the EXPECTED bucket near
    ``target_bucket_rows`` rows as the corpus grows instead of letting
    a fixed 2^8 bucket space go quadratic. Pass an explicit
    ``n_planes`` for reproducible bucketing independent of table size
    (e.g. to match a SQL oracle).

    ``multiprobe=1`` is the recall knob: each vector ALSO probes the
    ``n_planes`` buckets at hamming distance 1 (the buckets a
    borderline vector could have landed in), recovering most pairs a
    single hard bucket boundary would split. A pair ``(a, b)`` with
    ``id_a < id_b`` is emitted in bucket ``home(b)`` iff that bucket
    is in a's probe set; hamming is symmetric, so every qualifying
    pair is probed from its LOWER id exactly once — no dedup pass.

    Multiprobe shape: each bucket's group holds its HOME rows plus
    the incoming PROBE rows — (p+1)·N probe vector rows + N home rows
    through ONE exchange, pinned to ``spark.sql.shuffle.partitions``
    like :func:`embedding_cosine_pairs`. Vectors ride the probe
    expansion so candidates never materialize: expanding ids only and
    joining vectors back per candidate is strictly worse (the
    candidate stream is (p+1)·bucket_size·N/2 pairs, and re-attaching
    vectors shuffles it twice; measured 6.9 s → 8.3 s at sf0.1). The
    per-bucket kernel is ``similarity._pairs_above`` on the probe rows
    against the home rows: the same cosine blocks and pair rule as
    :func:`embedding_cosine_pairs`."""
    from bytewax_spark.functions.similarity import (
        _KERNEL_BLOCK_BYTES,
        _pairs_above,
        _scorable_rows,
        adaptive_n_planes,
        as_double,
        lsh_bucket_col,
        lsh_probe_buckets,
    )

    if n_planes is None:
        n_planes = adaptive_n_planes(df.count(), target_bucket_rows)
    bucket = lsh_bucket_col(vec_col, n_planes, dims, seed)
    if multiprobe == 0:
        blocked = df.withColumn("_lsh_bucket", bucket)
        return embedding_cosine_pairs(
            blocked, vec_col, id_col, "_lsh_bucket", threshold
        )

    id_dt = df.schema[id_col].dataType.simpleString()
    schema = f"id_a {id_dt}, id_b {id_dt}, cosine double"
    block_bytes = _KERNEL_BLOCK_BYTES  # bind by value: ships to executors

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf, v, norms = _scorable_rows(pdf)
        ids, h = pdf[id_col].to_numpy(), (pdf["_h"] == 1).to_numpy()
        return _pairs_above(
            ids[~h], v[~h], norms[~h], ids[h], v[h], norms[h], threshold, block_bytes
        )

    base = df.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col), bucket.alias("_b"), as_double(vec_col).alias("_v")
    )
    probes = base.select(
        id_col,
        "_v",
        F.explode(
            lsh_probe_buckets(F.col("_b"), n_planes, multiprobe)
        ).alias("_blk"),
        F.lit(0).alias("_h"),
    )
    homes = base.select(
        id_col, "_v", F.col("_b").alias("_blk"), F.lit(1).alias("_h")
    )
    u = probes.unionByName(homes).repartition(_shuffle_partitions(df), "_blk")
    return u.groupBy("_blk").applyInPandas(kernel, schema)


def lsh_cosine_recall(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str,
    dims: int,
    n_planes: int | None = None,
    threshold: float = 0.9,
    seed: int = 42,
    multiprobe: int = 0,
) -> DataFrame:
    """Recall audit of hyperplane-LSH cosine bucketing — the
    vector-side twin of :func:`minhash_lsh_recall`: one row
    ``(n_true, n_caught, recall_ppm)`` where ``n_true`` counts the
    exact cosine >= ``threshold`` pairs within ``block_col`` groups
    (:func:`embedding_cosine_pairs` — the computable truth: a label /
    cluster-cell / sampled block bounds the quadratic exact pass) and
    ``n_caught`` those of them the LSH bucket join
    (:func:`lsh_cosine_pairs` — GLOBAL, no blocks) also finds.
    ``recall_ppm`` is 1,000,000 when there are no true pairs.

    No precision column on purpose: ``lsh_cosine_pairs`` verifies the
    exact cosine inside each bucket, so every candidate it returns IS
    a true pair (precision 1.0 by construction) — the tunables here
    are ``n_planes``/``multiprobe``, which trade bucket size
    (quadratic per-bucket cost) against boundary-split recall, and
    this measures that recall on the real corpus (theory per pair:
    (1 - angle/pi)^n_planes without multiprobe).

    Scale shape: truth is block-bounded exact (run on a blocked
    SAMPLE at corpus scale — unbiased for within-block pairs);
    candidates are the production bucket kernel; the caught-join is a
    pair-key semi-join."""
    truth = embedding_cosine_pairs(
        df, vec_col, id_col, block_col, threshold
    ).select("id_a", "id_b")
    cand = lsh_cosine_pairs(
        df,
        vec_col,
        id_col,
        dims=dims,
        n_planes=n_planes,
        threshold=threshold,
        seed=seed,
        multiprobe=multiprobe,
    ).select("id_a", "id_b")
    caught = truth.join(cand, ["id_a", "id_b"], "left_semi")
    t = truth.agg(F.count(F.lit(1)).alias("n_true"))
    c = caught.agg(F.count(F.lit(1)).alias("n_caught"))
    return t.crossJoin(c).select(
        "n_true",
        "n_caught",
        F.when(F.col("n_true") == 0, F.lit(1_000_000).cast("long"))
        .otherwise(F.expr("(n_caught * 1000000L) div n_true"))
        .alias("recall_ppm"),
    )


def semdedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    cell_col: str,
    threshold: float = 0.9,
) -> DataFrame:
    """Semantic dedup over an embedding column, SemDeDup-shaped
    (Abbas et al. 2023, arXiv:2303.09540 — public): cluster the corpus
    (k-means cells via ``clustering.kmeans_fit``/``assign_cells``, or
    any existing block column), then within each cell drop every
    document that sits within ``threshold`` cosine of a KEPT document.

    Representative policy: min-id wins — a row is dropped iff some
    lower-id row in its cell is within threshold. (The paper keeps the
    point farthest from the centroid; the deterministic id rule is the
    oracle-checkable variant, and the policy only picks WHICH member of
    a near-dup neighborhood survives.) Min-id-wins is one
    ``embedding_cosine_pairs`` call (cell-blocked self-join — never
    all-pairs) plus an anti-join on the loser ids: at 100 TB the
    quadratic term is bounded by the largest cell, which the k-means k
    controls directly (k ~ N/target_cell_size, same sizing rule as IVF).
    """
    pairs = embedding_cosine_pairs(df, vec_col, id_col, cell_col, threshold)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def dedup_spans_global(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_len: int = 8,
    out_col: str | None = None,
) -> DataFrame:
    """CORPUS-WIDE exact-substring span dedup (the ExactSubstr step of
    Lee et al. 2021, arXiv:2107.06499 — public): every ``span_len``-token
    window that occurs anywhere else in the corpus survives only in its
    first occurrence; later occurrences have the window's token range
    REMOVED from their document (overlapping removed ranges merge), and
    documents reassemble from the kept tokens. Row count is preserved;
    fully-deduplicated docs come back empty.

    Occurrence order is (doc_id, position) — deterministic and
    partition-independent. Where ``dedup_lines_global`` needs duplicate
    LINE boundaries, this catches copied passages at any offset — the
    boilerplate/mirror case line dedup misses.

    Scale shape (all linear in token count, never quadratic):
    1. one explode to (id, pos, span-hash) rows — the hash is computed
       inside the row before exploding, so shuffled rows are 24 bytes
       regardless of span text;
    2. per-hash first occurrence via ``min(struct(id, pos))`` — a
       PARTIALLY aggregable min, so hot boilerplate spans combine
       map-side and never pile a skewed key onto one reducer (the
       row_number-window formulation this replaced gave each span hash
       to exactly one task AND re-evaluated an O(ranges²) interval
       fold once per token after projection collapse — 52 s at sf1
       where this shape is ~5 s);
    3. later occurrences explode to their covered token indices and
       collect_set to ONE sorted int array per doc (one id shuffle,
       map-side partial) — the covered set crosses the join as a real
       column, so nothing upstream can be inlined into the per-token
       rebuild;
    4. reassembly is ``array_except(all-indices, covered)`` (hash-set
       lookup, O(tokens)) + ``element_at`` gather — per-row, no
       shuffle, no per-token re-evaluation of anything aggregated.
    """
    out_col = out_col or text_col
    toks = tokenize(text_col)
    # base and spans are token/span slivers, recomputed per consumer
    # (see _materialize); spread off the scan first (single-row-group
    # inputs would serialize the tokenize onto one core)
    base = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), toks.alias("_toks")
    )
    npos = F.size("_toks") - F.lit(span_len - 1)
    spans = base.filter(npos > 0).select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), npos - 1),
                lambda p: hash64(
                    F.array_join(F.slice("_toks", p + 1, span_len), " ")
                ),
            )
        ).alias("_pos", "_h"),
    )
    first = spans.groupBy("_h").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("_pos").alias("p"))).alias(
            "_first"
        ),
        F.count(F.lit(1)).alias("_c"),
    )
    covered = (
        spans.join(first.filter(F.col("_c") > 1).select("_h", "_first"), "_h")
        .filter(
            F.struct(F.col(id_col).alias("i"), F.col("_pos").alias("p"))
            != F.col("_first")
        )
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("_pos"), F.col("_pos") + F.lit(span_len - 1))
            ).alias("_i"),
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("_i")).alias("_cov"))
    )
    kept_idx = F.array_except(
        F.when(
            F.size("_toks") > 0, F.sequence(F.lit(0), F.size("_toks") - 1)
        ).otherwise(F.array().cast("array<int>")),
        F.coalesce(F.col("_cov"), F.array().cast("array<int>")),
    )
    return (
        base.join(covered, id_col, "left")
        .withColumn(
            out_col,
            F.array_join(
                F.transform(kept_idx, lambda i: F.element_at("_toks", i + 1)), " "
            ),
        )
        .select(id_col, out_col)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """DIRECTED containment pairs: (id_a, id_b, containment) where
    ``|A ∩ B| / |A| >= threshold`` — "a is mostly contained in b", the
    sub-document/quotation/boilerplate-inclusion detector that
    symmetric Jaccard misses (a 50-word quote inside a 5000-word doc
    has tiny Jaccard but containment ~1). Both directions are distinct
    pairs; exact for the given threshold.

    Prefix filter (containment form of PPJoin): only the CONTAINED
    side prunes to its first ``|A| - ceil(t·|A|) + 1`` rarest
    shingles; the containing side must be indexed in full (any of b's
    shingles can witness), so the hot-shingle hazard concentrates
    there — ``max_doc_freq`` optionally drops shingles in more than
    that many docs from the index, an explicit recall trade documented
    at the call site (None = exact). Size filter: round(|B|/|A|, 6) >=
    t — the SAME rounding convention as the final predicate
    round(c/|A|, 6) >= t, so a boundary pair (c/|A| within 5e-7 below
    t, reachable only at ~2M+ shingles/doc) that the final predicate
    accepts is never dropped by the size filter; the prefix is widened
    by the same epsilon. Verification is one array_intersect per
    candidate."""
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sh, freq, docs = _rarest_first(df, text_col, id_col, n)
    # rounded acceptance admits c >= |A|*(t - 5e-7); the prefix must
    # still hold a witness for those boundary pairs
    prefix_len = (
        F.col("_size")
        - F.ceil(F.lit(threshold - 5e-7) * F.col("_size"))
        + 1
    ).cast("int")
    pa = docs.select(
        F.col("_id").alias("id_a"),
        F.col("_size").alias("_sa"),
        F.explode(F.slice("_toks", F.lit(1), prefix_len)).alias("_tok"),
    )
    full = sh.select(F.col(id_col).alias("id_b"), F.col("shingle").alias("_tok"))
    if max_doc_freq is not None:
        keep = freq.filter(F.col("_freq") <= max_doc_freq).select(
            F.col("shingle").alias("_tok")
        )
        full = full.join(keep, "_tok", "left_semi")
    sizes_b = docs.select(F.col("_id").alias("id_b"), F.col("_size").alias("_sb"))
    cand = (
        pa.join(full, "_tok")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", "_sa")
        .distinct()
        .join(sizes_b, "id_b")
        .filter(F.round(F.col("_sb") / F.col("_sa"), 6) >= threshold)
    )
    da = docs.select(F.col("_id").alias("id_a"), F.col("_toks").alias("_ta"))
    db = docs.select(F.col("_id").alias("id_b"), F.col("_toks").alias("_tb"))
    inter = F.size(F.array_intersect("_ta", "_tb"))
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .withColumn("containment", F.round(inter / F.col("_sa"), 6))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def dedup_keep_best(
    df: DataFrame,
    text_col: str,
    id_col: str,
    score_col: str | Column,
    n: int = 3,
    k: int | None = None,
    bands: int | None = None,
) -> DataFrame:
    """Quality-aware near-dup dedup: one survivor per MinHash-LSH
    cluster, chosen as the HIGHEST ``score_col`` (ties → smallest id)
    instead of the arbitrary minimum id — "keep the best copy", the
    curation rule real pipelines want (the canonical page, the longest
    extraction, the highest quality score; cf. the dedup guidance in
    Rae et al. 2021 / Lee et al. 2021, public). Returns
    ``(id_col, cluster_id)`` for the survivors only.

    Composition: :func:`~bytewax_spark.functions.graph.neardup_clusters`
    (banded LSH → star edges → connected components, O(N·bands)) +
    one score join + a per-cluster ``row_number`` — the argmax window
    partitions by cluster, so the added cost over min-id dedup is one
    id-and-score shuffle, nothing quadratic."""
    from pyspark.sql import Window

    from .graph import neardup_clusters

    score = F.col(score_col) if isinstance(score_col, str) else score_col
    clusters = neardup_clusters(df, text_col, id_col, n=n, k=k, bands=bands)
    joined = clusters.join(
        df.select(F.col(id_col), score.alias("_score")), id_col
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("_score"), F.asc(id_col)
    )
    return (
        joined.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(id_col, "cluster_id")
    )


def hamming_neighbor_pairs(
    df: DataFrame,
    fp_col: str,
    id_col: str,
    bits: int = 64,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs over ANY int64 fingerprint column (SimHash
    text prints, aHash image prints, ...) by Hamming distance — the
    Manku 2007 pigeonhole machinery factored out of
    :func:`simhash_neighbor_pairs`: split into ``max_hamming + 1``
    blocks (two prints within distance d agree exactly on >= 1 block),
    candidates from block-equality self-joins over DISTINCT
    fingerprints, ``bit_count(xor)`` verification, expansion through
    the fingerprint→id membership table at the end (duplicate-heavy
    inputs collapse onto few distinct prints — output-bound). Block
    extraction uses LOGICAL right shifts so bit 63 (signed int64
    fingerprints) blocks correctly. Returns ``(id_a, id_b, hamming)``.
    """
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    n_blocks = max_hamming + 1
    if n_blocks > bits:
        raise ValueError(
            f"max_hamming+1={n_blocks} blocks exceed bits={bits}"
        )
    # block widths need not be equal — the pigeonhole argument only
    # needs max_hamming+1 disjoint blocks covering the fingerprint
    base, rem = divmod(bits, n_blocks)
    widths = [base + 1] * rem + [base] * (n_blocks - rem)
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    members = df.select(F.col(fp_col).alias("_fp"), F.col(id_col).alias("_id"))
    members = materialize(
        members,
        "one (fp, id) row per doc, read by four subtrees; recomputing it "
        "re-runs the fingerprint pipeline (tokenize, image decode) each time",
    )
    fps = members.select("_fp").distinct()
    blocks = fps.select(
        "_fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftrightunsigned("_fp", offsets[b])
                        .bitwiseAND(F.lit((1 << widths[b]) - 1))
                        .alias("val"),
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("_b"),
    ).select("_fp", "_b.blk", "_b.val")
    fa = blocks.select("blk", "val", F.col("_fp").alias("_fa"))
    fb = blocks.select("blk", "val", F.col("_fp").alias("_fb"))
    ham = F.bit_count(F.col("_fa").bitwiseXOR(F.col("_fb"))).cast("int")
    fpairs = (
        fa.join(fb, ["blk", "val"])
        .filter(F.col("_fa") < F.col("_fb"))
        .select("_fa", "_fb", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    # cross-fingerprint doc pairs: expand both sides through the
    # membership table, normalize id order (fingerprint order and id
    # order need not agree)
    ma = members.select(F.col("_fp").alias("_fa"), F.col("_id").alias("_ia"))
    mb = members.select(F.col("_fp").alias("_fb"), F.col("_id").alias("_ib"))
    cross = (
        fpairs.join(ma, "_fa")
        .join(mb, "_fb")
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            "hamming",
        )
    )
    # same-fingerprint doc pairs: each fingerprint's member clique at
    # hamming 0
    same = (
        ma.join(
            members.select(F.col("_fp").alias("_fa"), F.col("_id").alias("_ib")),
            "_fa",
        )
        .filter(F.col("_ia") < F.col("_ib"))
        .select(
            F.col("_ia").alias("id_a"),
            F.col("_ib").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionByName(same)


def simhash_neighbor_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance (Manku,
    Jain & Das Sarma 2007, public — Google's web-dedup design):
    ``(id_a, id_b, hamming)`` for every pair of documents whose
    ``bits``-bit SimHash fingerprints differ in at most
    ``max_hamming`` bits. Extends :func:`simhash` (exact-equal
    grouping = hamming 0) to tolerance > 0 WITHOUT an all-pairs join.

    The pigeonhole block trick: split the fingerprint into
    ``max_hamming + 1`` contiguous blocks — two fingerprints within
    distance ``max_hamming`` must agree EXACTLY on at least one block
    (at most ``max_hamming`` blocks can contain a differing bit).
    Candidates therefore come from ``max_hamming + 1`` equality
    self-joins on (block index, block value) — LSH-bucket shape, one
    shuffle each, never N².

    The whole comparison pipeline runs over DISTINCT fingerprints,
    not documents (Manku's design point): duplicate-heavy corpora
    collapse many documents onto one fingerprint, so candidate
    generation + popcount verification cost |distinct fps|-shaped
    work, and document pairs materialize only at the end by expanding
    each surviving fingerprint pair through the fingerprint→ids
    membership table (plus per-fingerprint member cliques at
    hamming 0) — output-bound, which no pair enumeration can beat.

    Everything is integer bit arithmetic on the fingerprints, so a
    SQL oracle reproduces every pair bit-for-bit."""
    members = simhash(df, text_col, id_col, bits=bits)
    return hamming_neighbor_pairs(
        members, "simhash", id_col, bits=bits, max_hamming=max_hamming
    )
