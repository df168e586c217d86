"""Beyond-reference function tests: text analysis, dedup, similarity,
multimodal plumbing — against the real sf0.001 tables."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bytewax_spark.functions import dedup, multimodal, similarity, text
from tests import duckref
from tests.conftest import load
from tests.duckref import spark_rows


def test_tokenize_and_counts(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    row = docs.select(
        text.token_count("text").alias("ws"),
        text.token_count("text", mode="bpe").alias("bpe"),
        F.size(F.split(F.trim("text"), r"\s+")).alias("expected_ws"),
    ).first()
    assert row["ws"] == row["expected_ws"]
    assert row["bpe"] >= row["ws"]  # punctuation adds tokens, never removes


def test_char_ngrams(spark):
    df = spark.createDataFrame([("abcdef",)], "s string")
    got = df.select(text.char_ngrams("s", 3).alias("g")).first()["g"]
    assert got == ["abc", "bcd", "cde", "def"]


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "s string")
    got = df.select(text.word_shingles("s", 2).alias("g")).first()["g"]
    assert got == ["a b", "b c", "c d"]
    empty = spark.createDataFrame([("a",)], "s string")
    assert empty.select(text.word_shingles("s", 2).alias("g")).first()["g"] == []


def test_quality_and_langid(spark):
    df = spark.createDataFrame(
        [("the cat sat on the mat and it is a fine day for sitting",), ("der hund und die katze ist ein tier zu hause nicht allein",), ("@@@ ### !!!",)],
        "text string",
    )
    rows = df.select(text.lang_id("text").alias("lang"), text.quality_score("text").alias("q")).collect()
    assert rows[0]["lang"] == "en"
    assert rows[1]["lang"] == "de"
    assert rows[2]["lang"] == "und"
    assert rows[0]["q"] > rows[2]["q"]
    assert 0.0 <= rows[2]["q"] <= 1.0


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame([("b a c",), ("c b a a",), ("a b d",)], "text string")
    fps = [r["fp"] for r in df.select(text.fingerprint("text").alias("fp")).collect()]
    assert fps[0] == fps[1] and fps[0] != fps[2]


def test_dedup_exact(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "doc_id long, text string"
    )
    out = dedup.dedup_exact(df, "text", "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]


def test_dedup_incremental(spark):
    seen = spark.createDataFrame(
        [(1, "already ingested"), (2, "old news")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (10, "already ingested"),   # dup vs seen corpus -> dropped
            (11, "fresh content"),
            (12, "fresh content"),      # dup within batch -> min id wins
            (13, "other fresh"),
        ],
        "doc_id long, text string",
    )
    out = dedup.dedup_incremental(new, seen, "text", "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [11, 13]


def test_ngram_jaccard_pairs(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words entirely here now"),
        ],
        "doc_id long, text string",
    )
    pairs = dedup.ngram_jaccard_pairs(df, "text", "doc_id", n=2, threshold=0.3).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
    j = pairs[0]["jaccard"]
    assert 0.5 < j < 0.9  # 6 of 8+8 bigrams shared -> 6/10


def test_minhash_lsh_finds_near_dups(spark):
    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    near_b = near_a.replace("kappa", "lambda")
    df = spark.createDataFrame(
        [(1, near_a), (2, near_b), (3, "totally unrelated content with other tokens " * 3)],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_pairs(df, "text", "doc_id", n=2).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_lsh_class_pairing_matches_bruteforce(spark):
    """The r8 signature-class pairing must emit EXACTLY the bucket-join
    candidate set, each unordered pair once: docs sharing >=1 band
    bucket. Exercises every branch — multi-doc identical-signature
    classes (within-pairs, incl. one class big enough to stripe),
    cross-class collisions (first-matching-band dedup), and unrelated
    docs (no pair)."""
    from bytewax_spark.functions.dedup import _banded

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    rows = []
    # a 40-doc exact-duplicate cluster -> one signature class, striped
    for i in range(40):
        rows.append((i, base * 3))
    # a near-dup pair (likely shares some but not all bands)
    rows.append((100, (base * 3).replace("kappa", "lambda")))
    rows.append((101, (base * 3).replace("kappa", "mu")))
    # unrelated docs
    rows.append((200, "totally unrelated content with other tokens " * 3))
    rows.append((201, "another different document body entirely " * 3))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(df, "text", "doc_id", n=2).collect()
    )
    # brute force from the banded rows: pairs sharing any (band, bucket)
    banded = _banded(df, "text", "doc_id", 2, dedup.MINHASH_K, dedup.MINHASH_BANDS).collect()
    buckets: dict = {}
    for r in banded:
        buckets.setdefault((r["band"], r["bucket"]), set()).add(r["doc_id"])
    want = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                want.add((ids[x], ids[y]))
    assert got == sorted(want)          # same set
    assert len(got) == len(set(got))    # each pair exactly once
    # the 40-dup cluster must pair completely: C(40,2) within-pairs
    assert sum(1 for a, b in got if a < 40 and b < 40) == 40 * 39 // 2


def test_minhash_agrees_with_jaccard(spark, sf_dir):
    """Signature similarity must approximate exact Jaccard on real docs."""
    docs = load(spark, sf_dir, "documents").limit(50)
    sig = dedup.minhash_signatures(docs, "text", "doc_id", n=3).collect()
    by_doc = {}
    for r in sig:
        by_doc.setdefault(r["doc_id"], {})[r["i"]] = r["minhash"]
    assert all(len(v) == dedup.MINHASH_K for v in by_doc.values())


def test_simhash_near_dups_collide(spark):
    a = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(1, a), (2, a + " eleven"), (3, "x y z entirely unlike anything q w")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df, "text", "doc_id").collect()}
    ham12 = bin(rows[1] ^ rows[2]).count("1")
    ham13 = bin(rows[1] ^ rows[3]).count("1")
    assert ham12 < ham13


def test_embedding_cosine_pairs(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0], 0),
            (2, [0.99, 0.1, 0.0], 0),
            (3, [0.0, 1.0, 0.0], 0),
            (4, [1.0, 0.0, 0.0], 1),  # same direction, different block -> excluded
        ],
        "vec_id long, embedding array<float>, label int",
    )
    pairs = dedup.embedding_cosine_pairs(df, "embedding", "vec_id", "label", threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]


def test_cosine_topk(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    top = similarity.cosine_topk(emb, "embedding", "vec_id", list(q), k=5).collect()
    assert top[0]["vec_id"] == 0 and math.isclose(top[0]["cosine"], 1.0, abs_tol=1e-5)
    assert len(top) == 5
    cosines = [r["cosine"] for r in top]
    assert cosines == sorted(cosines, reverse=True)


def test_ivf_topk_probes(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    q = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    brute = similarity.cosine_topk(emb, "embedding", "vec_id", q, k=1).first()
    ivf = similarity.ivf_topk(emb, "embedding", "vec_id", "label", q, k=1, nprobe=3).first()
    assert ivf["vec_id"] == brute["vec_id"]  # query's own vector must be found


def test_lsh_buckets_deterministic(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings").limit(20)
    b1 = {r["vec_id"]: r["bucket"] for r in similarity.lsh_buckets(emb, "embedding", "vec_id", dims=64).collect()}
    b2 = {r["vec_id"]: r["bucket"] for r in similarity.lsh_buckets(emb, "embedding", "vec_id", dims=64).collect()}
    assert b1 == b2 and all(0 <= v < 256 for v in b1.values())
    with pytest.raises(ValueError, match="dims"):
        similarity.lsh_buckets(emb, "embedding", "vec_id")


def test_dedup_exact_stream_within_watermark(spark, tmp_path):
    """Streaming dedup: the duplicate text arriving inside the
    watermark window is suppressed; state is watermark-bounded."""
    from datetime import datetime

    from bytewax_spark.sources import TestingSource

    rows = [
        (1, "same text", datetime(2024, 1, 1, 0, 0)),
        (2, "same text", datetime(2024, 1, 1, 0, 1)),  # dup within delay
        (3, "other", datetime(2024, 1, 1, 0, 2)),
    ]
    src = TestingSource(rows, schema="doc_id long, text string, ts timestamp", streaming=True)
    df = src.to_df()
    out = dedup.dedup_exact_stream(df, "text", "ts", "10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dds_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["doc_id"] for r in spark.sql("SELECT * FROM dds_out").collect())
    assert got == [1, 3]


def test_multimodal_features_and_frames(spark):
    rows = [
        (1, "image", b"\x89PNGfake", {"mime": "image/png", "width": 4, "height": 4, "duration_ms": None, "sample_rate": None}),
        (2, "video", b"\x00\x00vid", {"mime": "video/mp4", "width": 16, "height": 16, "duration_ms": 3500, "sample_rate": None}),
    ]
    df = multimodal.media_table(spark, rows)
    feats = multimodal.decode_image_features(df.filter(F.col("kind") == "image")).collect()
    assert len(feats[0]["features"]) == 8
    assert all(0.0 <= x <= 1.0 for x in feats[0]["features"])
    # determinism: same bytes -> same features
    feats2 = multimodal.decode_image_features(df.filter(F.col("kind") == "image")).collect()
    assert feats[0]["features"] == feats2[0]["features"]

    frames = multimodal.sample_frames(df.filter(F.col("kind") == "video"), every_ms=1000).collect()
    assert [f["frame_ts_ms"] for f in frames] == [0, 1000, 2000, 3000]

    resized = multimodal.resize_images(df.filter(F.col("kind") == "image"), 8, 8).collect()
    assert resized[0]["meta"]["width"] == 8


def test_media_header_meta_pure_catalyst(spark):
    """Real PNG/BMP/GIF/WAV bytes parsed by the Catalyst-only header
    expressions: correct geometry for every format, nulls for garbage,
    and no Python eval anywhere in the plan."""
    png = multimodal.encode_png(17, 9, [(1, 2, 3)] * (17 * 9))
    bmp = multimodal.encode_bmp(5, 7, [(9, 9, 9)] * 35)
    gif = b"GIF89a" + (300).to_bytes(2, "little") + (200).to_bytes(2, "little") + b"\x00" * 6
    wav = multimodal.encode_wav(44100, 2, [0, 1000, -1000, 32767])
    df = spark.createDataFrame(
        [(1, png), (2, bmp), (3, gif), (4, wav), (5, b"not media")],
        "id long, content binary",
    )
    out = df.select("id", multimodal.media_header_meta("content").alias("m"))
    rows = {r["id"]: r["m"] for r in out.collect()}
    assert rows[1].asDict() == {"format": "png", "width": 17, "height": 9, "channels": 3, "sample_rate": None}
    assert rows[2].asDict() == {"format": "bmp", "width": 5, "height": 7, "channels": 3, "sample_rate": None}
    assert rows[3].asDict() == {"format": "gif", "width": 300, "height": 200, "channels": 1, "sample_rate": None}
    assert rows[4].asDict() == {"format": "wav", "width": None, "height": None, "channels": 2, "sample_rate": 44100}
    assert all(v is None for v in rows[5].asDict().values())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def _png_with_filters(width, height, pixels_rgb, filters):
    """Assemble a real PNG whose scanlines use the given filter types —
    forward-filters the raw data so the decoder's unfilter is tested
    against an independent implementation."""
    import struct, zlib

    nch, stride = 3, width * 3
    flat = bytes(c for px in pixels_rgb for c in px)
    raw, prev = b"", bytearray(stride)
    for y in range(height):
        line = flat[y * stride : (y + 1) * stride]
        f = filters[y % len(filters)]
        enc = bytearray([f])
        for i, x in enumerate(line):
            a = line[i - nch] if i >= nch else 0
            b = prev[i]
            c = prev[i - nch] if i >= nch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            enc.append((x - pred) & 255)
        raw += bytes(enc)
        prev = bytearray(line)

    def chunk(tag, data):
        return struct.pack(">I", len(data)) + tag + data + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def test_decode_png_all_filter_types():
    """The stdlib PNG decoder inverts every scanline filter (0-4):
    decode(filtered(img)) == img for a gradient that exercises carries."""
    w, h = 6, 10
    pixels = [((x * 37 + y * 11) % 256, (x * 5) % 256, (y * 90) % 256) for y in range(h) for x in range(w)]
    expected = [(r + g + b) / 3.0 for (r, g, b) in pixels]
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        got = multimodal.decode_image(_png_with_filters(w, h, pixels, filters))
        assert got is not None and got[:3] == ("png", w, h)
        assert got[3] == expected, f"filters={filters}"
    # encode_png roundtrip too (filter 0 writer)
    rt = multimodal.decode_image(multimodal.encode_png(w, h, pixels))
    assert rt[3] == expected


def test_decode_bmp_stride_and_orientation():
    """BMP decode honors 4-byte row padding and bottom-up storage: a
    3-wide image (stride 12 != 9) with distinct rows comes back in
    visual row order."""
    w, h = 3, 2
    pixels = [(10, 10, 10)] * 3 + [(200, 200, 200)] * 3  # row0 dark? no: row0=10s, row1=200s
    got = multimodal.decode_image(multimodal.encode_bmp(w, h, pixels))
    assert got == ("bmp", w, h, [10.0] * 3 + [200.0] * 3)


def test_decode_wav_roundtrip_and_audio_features(spark):
    """encode_wav -> decode_wav is lossless PCM16; decode_audio_features
    computes exact RMS/peak/duration from the real bytes; non-WAV
    content yields nulls."""
    import math

    samples = [0, 1000, -1000, 32767, -32768, 5]
    wav = multimodal.encode_wav(16000, 1, samples)
    assert multimodal.decode_wav(wav) == (16000, 1, samples)
    rows = [
        (1, "audio", wav, {"mime": "audio/wav", "width": None, "height": None, "duration_ms": None, "sample_rate": None}),
        (2, "audio", b"not audio", {"mime": None, "width": None, "height": None, "duration_ms": None, "sample_rate": None}),
    ]
    out = {r["media_id"]: r for r in multimodal.decode_audio_features(
        multimodal.media_table(spark, rows)).collect()}
    good = out[1]
    assert good["sample_rate"] == 16000 and good["channels"] == 1
    assert good["n_samples"] == 6 and good["duration_ms"] == 6 * 1000 // 16000
    assert good["peak"] == 32768
    assert abs(good["rms"] - math.sqrt(sum(s * s for s in samples) / 6)) < 1e-9
    assert out[2]["sample_rate"] is None and out[2]["rms"] is None


def test_jpeg_dimensions_sof_scan():
    """Minimal real JPEG structure: SOI, APP0, DHT (skipped), SOF0 with
    geometry — the marker walk finds 640x480; truncated/garbage -> None."""
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
    dht = b"\xff\xc4" + (4).to_bytes(2, "big") + b"\x00\x00"
    sof = b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08" + (480).to_bytes(2, "big") + (640).to_bytes(2, "big") + b"\x03" + b"\x00" * 9
    jpg = b"\xff\xd8" + app0 + dht + sof + b"\xff\xd9"
    assert multimodal.jpeg_dimensions(jpg) == (640, 480)
    assert multimodal.jpeg_dimensions(b"\xff\xd8\xff") is None
    assert multimodal.jpeg_dimensions(b"PNG?") is None
    assert multimodal.jpeg_dimensions(multimodal.encode_bmp(2, 2, [(0, 0, 0)] * 4)) is None


def test_decode_image_features_real_decode_path(spark):
    """Features for a real BMP come from the REAL pixel decode (exact
    bucket means), not the digest fake."""
    v = 123
    bmp = multimodal.encode_bmp(4, 4, [(v, v, v)] * 16)
    rows = [(1, "image", bmp, {"mime": "image/bmp", "width": 4, "height": 4, "duration_ms": None, "sample_rate": None})]
    df = multimodal.media_table(spark, rows)
    feats = multimodal.decode_image_features(df).collect()[0]["features"]
    assert feats == [v / 255.0] * 8


def test_approx_distinct_within_tolerance(spark, sf_dir):
    """approx_count_distinct (HLL++, rsd 1%) lands within 5% of the
    exact per-type distinct-user count. The entry query now emits the
    tolerance flag itself (driver-checkable); both the flag and the
    exact counts are verified here."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    rows = entry.queries()["approx_distinct_users"](spark, sf_dir).collect()
    from bytewax_spark.io import read_parquet

    exact = {
        r["event_type"]: r["n"]
        for r in read_parquet(spark, f"{sf_dir}/events.parquet")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert {r["event_type"] for r in rows} == set(exact)
    for r in rows:
        assert r["approx_within_5pct"], r
        assert r["exact_users"] == exact[r["event_type"]]


def test_sample_by_hash_deterministic_and_keyed(spark, sf_dir):
    """Same (key, salt) → same decision on every run; different salts
    decorrelate; rate lands near the target fraction."""
    from bytewax_spark.functions import sampling

    docs = load(spark, sf_dir, "documents")
    n = docs.count()
    s1 = {r["doc_id"] for r in sampling.sample_by_hash(docs, "doc_id", 0.2).collect()}
    s2 = {r["doc_id"] for r in sampling.sample_by_hash(docs, "doc_id", 0.2).collect()}
    assert s1 == s2
    # rate within a loose binomial envelope
    assert 0.05 * n < len(s1) < 0.4 * n
    # a larger rate with the same salt is a superset (nested samples)
    s_half = {r["doc_id"] for r in sampling.sample_by_hash(docs, "doc_id", 0.5).collect()}
    assert s1 <= s_half
    # a different salt gives a different subset
    s_salted = {
        r["doc_id"] for r in sampling.sample_by_hash(docs, "doc_id", 0.2, salt="x").collect()
    }
    assert s_salted != s1
    with pytest.raises(ValueError, match="rate"):
        sampling.sample_by_hash(docs, "doc_id", 1.5)


def test_stratified_sample_rates(spark, sf_dir):
    """Per-stratum keep fractions honor the configured rates: de keeps
    everything, en keeps ~5%, rest ~50%."""
    from bytewax_spark.functions import sampling

    docs = load(spark, sf_dir, "documents")
    kept = sampling.stratified_sample(
        docs, "lang", "doc_id", {"en": 0.05, "de": 1.0}, default_rate=0.5
    )
    tot = {r["lang"]: r["n"] for r in docs.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    got = {r["lang"]: r["n"] for r in kept.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    assert got.get("de", 0) == tot["de"]
    assert got.get("en", 0) < 0.25 * tot["en"]
    others = [l for l in tot if l not in ("en", "de")]
    frac = sum(got.get(l, 0) for l in others) / sum(tot[l] for l in others)
    assert 0.3 < frac < 0.7


def test_split_train_test_disjoint_and_stable(spark, sf_dir):
    """Every row gets exactly one split; assignment is stable across
    runs; weights < 1 leave a NULL holdout."""
    from bytewax_spark.functions import sampling

    docs = load(spark, sf_dir, "documents")
    out = sampling.split_train_test(docs, "doc_id", {"train": 0.8, "test": 0.1})
    rows = out.select("doc_id", "split").collect()
    assign = {r["doc_id"]: r["split"] for r in rows}
    assert len(assign) == len(rows)  # one row per key, one label each
    counts = {}
    for v in assign.values():
        counts[v] = counts.get(v, 0) + 1
    assert counts.get("train", 0) > counts.get("test", 0) > 0
    assert None in counts  # 10% holdout unlabeled
    again = {
        r["doc_id"]: r["split"]
        for r in sampling.split_train_test(docs, "doc_id", {"train": 0.8, "test": 0.1}).collect()
    }
    assert again == assign
    with pytest.raises(ValueError, match="sum"):
        sampling.split_train_test(docs, "doc_id", {"a": 0.9, "b": 0.2})


def test_sampling_plan_is_scan_local(spark, sf_dir):
    """The sample decision is a map-local filter: no exchange, no
    Python eval — one md5 per row inside codegen."""
    from bytewax_spark.functions import sampling

    docs = load(spark, sf_dir, "documents")
    plan = (
        sampling.sample_by_hash(docs, "doc_id", 0.1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan.split("== Initial Plan ==")[0]
    assert "EvalPython" not in plan


def test_lsh_cosine_pairs_subset_of_exact(spark, sf_dir):
    """Every LSH-bucketed pair is a true near-dup pair (precision is
    exact — cosine is computed, not estimated); the bucket only bounds
    candidates. Deterministic across runs."""
    emb = load(spark, sf_dir, "embeddings")
    lsh = dedup.lsh_cosine_pairs(emb, "embedding", "vec_id", dims=64, threshold=0.3)
    got = {(r["id_a"], r["id_b"], r["cosine"]) for r in lsh.collect()}
    again = {(r["id_a"], r["id_b"], r["cosine"]) for r in lsh.collect()}
    assert got == again and len(got) > 0
    # all-pairs ground truth on the small table: one shared block
    allp = dedup.embedding_cosine_pairs(
        emb.withColumn("_one", F.lit(1)), "embedding", "vec_id", "_one", threshold=0.3
    )
    truth = {(r["id_a"], r["id_b"], r["cosine"]) for r in allp.collect()}
    assert got <= truth
    # the plan stays JVM-side: no Python eval anywhere
    plan = lsh._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_adaptive_n_planes_tracks_table_size():
    """n_planes grows with the corpus so the EXPECTED bucket size stays
    near the target — a fixed plane count would let bucket size (and
    the quadratic in-bucket join) grow linearly at 100 TB."""
    # 1M rows / 4096 target -> 2^8 = 256 buckets of ~4k rows
    assert similarity.adaptive_n_planes(1_000_000, 4096) == 8
    # 1000x data -> +10 planes, same expected bucket size
    assert similarity.adaptive_n_planes(1_000_000_000, 4096) == 18
    # tiny / degenerate tables clamp to the floor; absurd scale to the cap
    assert similarity.adaptive_n_planes(100, 4096) == 4
    assert similarity.adaptive_n_planes(0, 4096) == 4
    assert similarity.adaptive_n_planes(10**18, 4096) == 24
    # the invariant the knob exists for: expected bucket size bounded
    for n in (10**5, 10**7, 10**9):
        p = similarity.adaptive_n_planes(n, 4096)
        assert n / (1 << p) <= 4096


def test_lsh_adaptive_default_and_probe_buckets(spark, sf_dir):
    """n_planes=None sizes the bucket space from the table; probe
    arrays contain the bucket plus its n_planes hamming-1 neighbors."""
    emb = load(spark, sf_dir, "embeddings")
    n = emb.count()
    lsh = dedup.lsh_cosine_pairs(emb, "embedding", "vec_id", dims=64, threshold=0.3)
    expected_planes = similarity.adaptive_n_planes(n, 4096)
    explicit = dedup.lsh_cosine_pairs(
        emb, "embedding", "vec_id", dims=64, n_planes=expected_planes, threshold=0.3
    )
    assert {tuple(r) for r in lsh.collect()} == {tuple(r) for r in explicit.collect()}
    probes = spark.createDataFrame([(5,)], "bucket long").select(
        similarity.lsh_probe_buckets("bucket", 3).alias("p")
    ).first()["p"]
    assert probes == [5, 5 ^ 1, 5 ^ 2, 5 ^ 4]
    with pytest.raises(ValueError, match="hamming"):
        similarity.lsh_probe_buckets(F.col("bucket"), 3, hamming=2)


def test_lsh_multiprobe_improves_recall_no_duplicates(spark, sf_dir):
    """multiprobe=1 recovers pairs split across a single hyperplane
    boundary: its pair set contains the exact-bucket pair set, stays a
    subset of ground truth, and emits each pair exactly once (the
    hamming-1 expansion cannot double-count)."""
    emb = load(spark, sf_dir, "embeddings")
    kw = dict(dims=64, n_planes=8, threshold=0.3)
    single = {(r["id_a"], r["id_b"]) for r in
              dedup.lsh_cosine_pairs(emb, "embedding", "vec_id", **kw).collect()}
    multi_rows = dedup.lsh_cosine_pairs(
        emb, "embedding", "vec_id", multiprobe=1, **kw
    ).collect()
    multi = {(r["id_a"], r["id_b"]) for r in multi_rows}
    assert len(multi_rows) == len(multi)  # exactly-once, no dedup pass
    assert single <= multi
    truth = {(r["id_a"], r["id_b"]) for r in dedup.embedding_cosine_pairs(
        emb.withColumn("_one", F.lit(1)), "embedding", "vec_id", "_one", threshold=0.3
    ).collect()}
    assert multi <= truth
    # recall strictly improves on this table (8 planes split plenty of
    # true pairs at threshold 0.3)
    assert len(multi) > len(single)
    assert len(multi) / len(truth) > len(single) / len(truth)


def test_dedup_lines_global_c4_semantics(spark):
    """First (doc_id, line_no) occurrence of each exact line wins;
    later docs keep only their novel lines; fully-duplicated docs
    come back empty but stay in the output."""
    df = spark.createDataFrame(
        [(1, "a\nb"), (2, "b\nc"), (3, "a\nb"), (4, "d\nd")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text"] for r in
           dedup.dedup_lines_global(df, "text", "doc_id").collect()}
    assert got == {
        1: "a\nb",   # everything first-seen
        2: "c",      # 'b' lost to doc 1
        3: "",       # both lines lost, row preserved
        4: "d",      # within-doc repeat: second 'd' loses to the first
    }


def test_minhash_incremental_equals_cross_side_of_full(spark, sf_dir):
    """Incremental MinHash (new batch x seen corpus) finds exactly the
    cross-side subset of the full self-join's candidate pairs — no
    within-batch or within-seen pairs, nothing missed."""
    docs = load(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 7 == 0)
    seen = docs.filter(F.col("doc_id") % 7 != 0)
    inc = {
        (r["new_id"], r["seen_id"])
        for r in dedup.minhash_lsh_pairs_incremental(
            new, seen, "text", "doc_id", n=2
        ).collect()
    }
    full = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(docs, "text", "doc_id", n=2).collect()
    }
    cross = {
        (a, b) if a % 7 == 0 else (b, a)
        for a, b in full
        if (a % 7 == 0) != (b % 7 == 0)
    }
    assert inc == cross and len(inc) > 0
    assert all(a % 7 == 0 and b % 7 != 0 for a, b in inc)


def test_quantize_embeddings_int8(spark, sf_dir):
    """Symmetric int8 quantization: values within [-127, 127], the
    per-dim max hits ±127 exactly, dequantization error bounded by
    half a step, and the corpus side broadcasts the 1-row scales
    instead of shuffling."""
    emb = load(spark, sf_dir, "embeddings")
    q = similarity.quantize_embeddings(emb, "embedding", "vec_id")
    rows = {r["vec_id"]: r["qvec"] for r in q.collect()}
    orig = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}
    dims = len(next(iter(orig.values())))
    scales = [max(abs(v[j]) for v in orig.values()) for j in range(dims)]
    flat = [x for v in rows.values() for x in v]
    assert all(-127 <= x <= 127 for x in flat)
    assert max(abs(x) for x in flat) == 127  # max-abs dim saturates
    for vid, qv in list(rows.items())[:50]:
        for j, (xq, x) in enumerate(zip(qv, orig[vid])):
            if scales[j] == 0:
                assert xq == 0
            else:
                assert abs(xq * scales[j] / 127.0 - x) <= scales[j] / 127.0
    plan = q._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" in plan
    assert "EvalPython" not in plan


def test_hard_negatives_excludes_anchor_label(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0).first()
    neg = similarity.hard_negatives(
        emb, "embedding", "vec_id", "label", list(probe["embedding"]), probe["label"], k=7
    ).collect()
    assert len(neg) == 7
    assert all(r["label"] != probe["label"] for r in neg)
    cosines = [r["cosine"] for r in neg]
    assert cosines == sorted(cosines, reverse=True)
    # the top hard negative is the best cross-label match: no other-label
    # vector may score above it
    brute = similarity.cosine_topk(emb, "embedding", "vec_id", list(probe["embedding"]), k=50)
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    best_cross = next(
        r["cosine"] for r in brute.collect() if labels[r["vec_id"]] != probe["label"]
    )
    assert math.isclose(neg[0]["cosine"], best_cross, abs_tol=1e-9)


def test_random_projection_shape_and_determinism(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings").limit(50)
    rp = similarity.random_projection(emb, "embedding", "vec_id", out_dim=8, dims=64)
    assert rp.columns == ["vec_id"] + [f"rp{j}" for j in range(8)]
    a = sorted(map(tuple, rp.collect()))
    b = sorted(map(tuple, similarity.random_projection(
        emb.repartition(7), "embedding", "vec_id", out_dim=8, dims=64
    ).collect()))
    assert a == b
    with pytest.raises(ValueError, match="dims"):
        similarity.random_projection(emb, "embedding", "vec_id")


def test_random_projection_preserves_similarity_rank(spark, sf_dir):
    """JL sanity: the nearest neighbor of a vector in the original
    space stays among the projected space's closer vectors (weak rank
    check, not a distance bound — 8 dims from 64 is lossy)."""
    emb = load(spark, sf_dir, "embeddings").limit(100)
    q = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    top = similarity.cosine_topk(emb, "embedding", "vec_id", q, k=2).collect()
    nn = next(r["vec_id"] for r in top if r["vec_id"] != 0)
    rows = {r["vec_id"]: [r[f"rp{j}"] for j in range(8)] for r in similarity.random_projection(
        emb, "embedding", "vec_id", out_dim=8, dims=64
    ).collect()}
    import numpy as np

    qv = np.array(rows[0])
    dists = {
        vid: float(np.linalg.norm(np.array(v) - qv)) for vid, v in rows.items() if vid != 0
    }
    rank = sorted(dists, key=dists.get).index(nn)
    assert rank < len(dists) // 2  # true NN lands in the closer half after projection


def test_cosine_topk_batch_matches_per_probe(spark, sf_dir):
    """The one-pass batch must agree exactly with per-probe TakeOrdered."""
    emb = load(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("pid"), F.col("embedding").alias("pvec")
    )
    batch = similarity.cosine_topk_batch(
        emb, "embedding", "vec_id", probes, "pid", "pvec", k=4
    ).collect()
    got = {}
    for r in batch:
        got.setdefault(r["probe_id"], []).append((r["vec_id"], r["cosine"]))
    for pid in (0, 1, 2):
        q = list(emb.filter(F.col("vec_id") == pid).first()["embedding"])
        solo = [(r["vec_id"], r["cosine"])
                for r in similarity.cosine_topk(emb, "embedding", "vec_id", q, k=4).collect()]
        assert sorted(got[pid], key=lambda t: (-t[1], t[0])) == solo


# ---------------------------------------------------------------------------
# containment_pairs
# ---------------------------------------------------------------------------


def test_containment_directed_asymmetric(spark):
    """A short doc fully inside a long one: containment(a->b)=1 while
    (b->a) is far below threshold — the case Jaccard misses."""
    from bytewax_spark.functions import dedup as dd

    quote = "alpha beta gamma delta epsilon zeta"
    long = quote + " " + " ".join(f"w{i} x{i} y{i}" for i in range(30))
    df = spark.createDataFrame([(1, quote), (2, long)], "doc_id bigint, text string")
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dd.containment_pairs(df, "text", "doc_id", n=3, threshold=0.8).collect()
    }
    assert got.get((1, 2)) == 1.0
    assert (2, 1) not in got


def test_containment_matches_brute_force(spark):
    from bytewax_spark.functions import dedup as dd
    from bytewax_spark.functions.text import hash64, word_shingles
    from pyspark.sql import functions as F

    texts = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g h i j k l"),
        (3, "x y z a b c"),
        (4, "p q r s t u v w"),
    ]
    df = spark.createDataFrame(texts, "doc_id bigint, text string")
    t = 0.6
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dd.containment_pairs(df, "text", "doc_id", n=2, threshold=t).collect()
    }
    # brute force with the same shingle definition
    sets = {
        r["doc_id"]: set(r["s"])
        for r in df.select(
            "doc_id",
            F.array_distinct(F.transform(word_shingles("text", 2), hash64)).alias("s"),
        ).collect()
    }
    want = {}
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a == b:
                continue
            c = round(len(sa & sb) / len(sa), 6)
            if c >= t:
                want[(a, b)] = c
    assert got == want


def test_containment_max_doc_freq_drops_boilerplate(spark):
    from bytewax_spark.functions import dedup as dd

    # a shingle present in EVERY doc; with max_doc_freq=2 it can't
    # witness candidates, so the only matches come from real overlap
    boiler = "copyright footer text"
    df = spark.createDataFrame(
        [(i, f"{boiler} doc{i} unique{i} words{i}") for i in range(1, 6)],
        "doc_id bigint, text string",
    )
    strict = dd.containment_pairs(df, "text", "doc_id", n=3, threshold=0.3, max_doc_freq=2)
    assert strict.count() == 0


def test_simhash_neighbor_pairs_complete_vs_brute_force(spark, sf_dir):
    """The pigeonhole candidate generation must find EVERY pair within
    the Hamming budget (it can never miss: <= d differing bits leave
    one of d+1 blocks untouched)."""
    from pyspark.sql import functions as F

    from bytewax_spark.functions import dedup as dd

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    got = dd.simhash_neighbor_pairs(docs, "text", "doc_id", bits=16, max_hamming=2)
    fp = dd.simhash(docs, "text", "doc_id", bits=16)
    a = fp.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("fa"))
    b = fp.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("fb"))
    bf = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 2)
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, bf.collect()))


def test_simhash_neighbor_pairs_validates(spark):
    import pytest

    from bytewax_spark.functions import dedup as dd

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        dd.simhash_neighbor_pairs(df, "text", "doc_id", bits=4, max_hamming=4)
    with pytest.raises(ValueError):
        dd.simhash_neighbor_pairs(df, "text", "doc_id", max_hamming=-1)


def test_normalize_text_typographic_and_controls(spark):
    rows = [
        ("“Hello” — it’s a   test…​ done\x07",),
        ("  plain  text  ",),
        ("", ),
    ]
    df = spark.createDataFrame(rows, "text string")
    got = [r["t"] for r in df.select(text.normalize_text("text").alias("t")).collect()]
    assert got[0] == '"Hello" - it\'s a test... done'
    assert got[1] == "plain text"
    assert got[2] == ""


def test_normalize_text_nbsp_and_dashes(spark):
    df = spark.createDataFrame([("a b–c−d­e",)], "text string")
    got = df.select(text.normalize_text("text").alias("t")).collect()[0]["t"]
    assert got == "a b-c-de"


def test_embedding_cosine_pairs_arrow_sql_parity(spark):
    """The block kernel must reproduce DuckDB SQL's pairs exactly —
    same id_a < id_b enumeration, same round-6-then-threshold
    predicate, including boundary cosines from duplicate vectors
    (exactly 1.0)."""
    import random

    rng = random.Random(5)
    rows = []
    for i in range(80):
        vec = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((i, vec, i % 4))
    rows.append((200, list(rows[0][1]), 0))   # exact duplicate in block 0
    rows.append((201, [x * 2 for x in rows[0][1]], 0))  # scaled dup: cos 1.0
    df = spark.createDataFrame(
        rows, "doc_id long, embedding array<float>, blk int"
    )
    for t in (0.5, 0.9):
        got = spark_rows(
            dedup.embedding_cosine_pairs(df, "embedding", "doc_id", "blk", threshold=t)
        )
        assert got == duckref.embedding_pairs(df, "embedding", "doc_id", "blk", t), (
            f"threshold={t}"
        )
    assert any(r[0] == "1.000000" for r in got[1])


def test_embedding_cosine_pairs_null_blocks_dropped_both_impls(spark):
    """Rows with a NULL block key belong to no block and must be
    DROPPED, as DuckDB's equi self-join drops them (the kernel used to
    collect all null-block rows into one pandas group and emit pairs
    among them)."""
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.99, 0.01], 0),
        (3, [1.0, 0.0], None),   # null block: must pair with nothing
        (4, [0.99, 0.01], None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, embedding array<float>, blk int"
    )
    got = spark_rows(
        dedup.embedding_cosine_pairs(df, "embedding", "doc_id", "blk", threshold=0.5)
    )
    assert got == duckref.embedding_pairs(df, "embedding", "doc_id", "blk", 0.5)
    assert [(r[1], r[2]) for r in got[1]] == [("1", "2")]


def test_embedding_cosine_pairs_drops_null_and_zero_norm_vectors(spark):
    """A NULL or zero-norm vector has no cosine: the row is dropped
    before scoring instead of failing the kernel (NULL) or scoring NaN
    (zero norm)."""
    rows = [
        (1, [1.0, 0.0, 0.0], 0),
        (2, [0.9, 0.1, 0.0], 0),
        (3, None, 0),
        (4, [0.0, 0.0, 0.0], 0),
        (5, [0.8, 0.2, 0.1], 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, embedding array<float>, blk int"
    )
    got = spark_rows(
        dedup.embedding_cosine_pairs(df, "embedding", "doc_id", "blk", threshold=0.5)
    )
    assert got == duckref.embedding_pairs(df, "embedding", "doc_id", "blk", 0.5)
    assert len(got[1]) == 3


def test_cosine_pairs_duplicated_and_null_ids_match_duckdb(spark):
    """Pairs are kept by ``id_a < id_b`` on the ids, not on row
    positions: two rows sharing an id never pair with each other (no
    ``id_a == id_b`` row), each of them pairs with every larger id, and
    a NULL id pairs with nothing, as in the DuckDB self-join. Both the
    blocked kernel and the multiprobe kernel."""
    rows = [
        ("a", [1.0, 0.0], 0),
        ("b", [0.98, 0.02], 0),
        ("b", [0.97, 0.03], 0),
        ("c", [0.99, 0.01], 0),
        (None, [0.99, 0.02], 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, embedding array<float>, blk int"
    )
    got = spark_rows(
        dedup.embedding_cosine_pairs(df, "embedding", "doc_id", "blk", threshold=0.5)
    )
    assert got == duckref.embedding_pairs(df, "embedding", "doc_id", "blk", 0.5)
    assert len(got[1]) == 5
    kw = dict(dims=2, n_planes=2, threshold=0.5, seed=3, multiprobe=1)
    got = spark_rows(dedup.lsh_cosine_pairs(df, "embedding", "doc_id", **kw))
    want = duckref.multiprobe_pairs(
        duckref.with_bucket(df, 2, 2, 3), "embedding", "doc_id", "bucket", 0.5
    )
    assert got == want


def test_embedding_cosine_pairs_block_chunked_kernel_exact(spark, monkeypatch):
    """Skew guard: with the kernel's dense-matrix budget shrunk to a
    few rows per block, a mass-duplicate corpus (every vector
    identical, all in ONE block — the degenerate 100 TB case) must
    produce exactly all C(n,2) pairs at cosine 1.0."""
    from bytewax_spark.functions import similarity as sim

    monkeypatch.setattr(sim, "_KERNEL_BLOCK_BYTES", 256)  # ~2 rows/block at n=16
    n = 16
    df = spark.createDataFrame(
        [(i, [3.0, 4.0, 0.0], 7) for i in range(n)],
        "doc_id long, embedding array<float>, blk int",
    )
    got = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in dedup.embedding_cosine_pairs(
            df, "embedding", "doc_id", "blk", threshold=0.9
        ).collect()
    }
    want = {(a, b, 1.0) for a in range(n) for b in range(a + 1, n)}
    assert got == want


def test_lsh_multiprobe_pairs_arrow_sql_parity(spark):
    """The multiprobe probe x home kernel must reproduce DuckDB SQL's
    pairs exactly: buckets at hamming distance <= 1, once per pair,
    round-6-then-threshold, including duplicate vectors (cosine
    exactly 1.0) and pairs split across a single hyperplane
    boundary."""
    import random

    rng = random.Random(17)
    rows = []
    for i in range(90):
        vec = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((i, vec))
    rows.append((300, list(rows[0][1])))  # exact duplicate vector
    df = spark.createDataFrame(rows, "doc_id long, embedding array<float>")
    kw = dict(dims=8, n_planes=3, threshold=0.4, seed=9, multiprobe=1)
    got = spark_rows(dedup.lsh_cosine_pairs(df, "embedding", "doc_id", **kw))
    want = duckref.multiprobe_pairs(
        duckref.with_bucket(df, 8, 3, 9), "embedding", "doc_id", "bucket", 0.4
    )
    assert got == want
    assert any(r[0] == "1.000000" for r in got[1])


def test_lsh_multiprobe_pairs_arrow_string_ids(spark):
    """The multiprobe kernel compares id arrays directly (the
    id_probe < id_home mask), so non-numeric ids must survive: the
    same pairs as DuckDB SQL on string doc ids."""
    import random

    rng = random.Random(5)
    rows = [
        (f"d{i:03d}", [rng.uniform(-1, 1) for _ in range(6)])
        for i in range(50)
    ]
    rows.append(("d900", list(rows[0][1])))  # duplicate vector
    df = spark.createDataFrame(rows, "doc_id string, embedding array<float>")
    kw = dict(dims=6, n_planes=2, threshold=0.4, seed=3, multiprobe=1)
    out = dedup.lsh_cosine_pairs(df, "embedding", "doc_id", **kw)
    want = duckref.multiprobe_pairs(
        duckref.with_bucket(df, 6, 2, 3), "embedding", "doc_id", "bucket", 0.4
    )
    assert spark_rows(out) == want
    assert all(
        isinstance(r["id_a"], str) and isinstance(r["id_b"], str)
        for r in out.collect()
    )


def test_lsh_multiprobe_pairs_drops_null_and_zero_norm_vectors(spark):
    """A NULL or zero-norm vector has no cosine: the multiprobe kernel
    drops the row before scoring (a NULL vector used to fail it)."""
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, None),
        (4, [0.0, 0.0, 0.0]),
        (5, [0.8, 0.2, 0.1]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, embedding array<float>")
    kw = dict(dims=3, n_planes=2, threshold=0.5, seed=3, multiprobe=1)
    got = spark_rows(dedup.lsh_cosine_pairs(df, "embedding", "doc_id", **kw))
    want = duckref.multiprobe_pairs(
        duckref.with_bucket(df, 3, 2, 3), "embedding", "doc_id", "bucket", 0.5
    )
    assert got == want
    assert len(got[1]) > 0


def test_minhash_lsh_recall_catches_identical_docs(spark):
    """Exact duplicates share every shingle, hence every band bucket:
    recall over a corpus of duplicate groups must be 1.0 exactly."""
    rows = []
    for g in range(6):
        base = f"alpha bravo charlie delta echo{g} foxtrot golf hotel"
        rows.append((g * 10, base))
        rows.append((g * 10 + 1, base))  # exact duplicate
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.minhash_lsh_recall(
        df, "text", "doc_id", n=1, k=16, bands=4, threshold=0.9
    ).collect()[0]
    assert out["n_true"] == 6
    assert out["n_caught"] == 6
    assert out["recall_ppm"] == 1_000_000
    assert out["n_cand"] >= 6
    assert 0 < out["precision_ppm"] <= 1_000_000


def test_minhash_lsh_recall_vacuous_when_no_true_pairs(spark):
    rows = [(i, f"token{i}a token{i}b token{i}c token{i}d") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.minhash_lsh_recall(
        df, "text", "doc_id", n=1, k=16, bands=4, threshold=0.9
    ).collect()[0]
    assert out["n_true"] == 0
    assert out["recall_ppm"] == 1_000_000  # vacuous full recall
    if out["n_cand"] == 0:
        assert out["precision_ppm"] == 1_000_000  # vacuous too
    else:
        assert out["precision_ppm"] == 0  # candidates, none true


def test_lsh_cosine_recall_full_on_identical_vectors(spark):
    """Identical vectors land in the same bucket under any hyperplane
    set: recall must be exactly 1.0."""
    rows = []
    for g in range(5):
        vec = [float(g + 1), float(2 * g + 1), 0.5, -1.0]
        rows.append((g * 10, vec, g))
        rows.append((g * 10 + 1, list(vec), g))  # exact duplicate, same block
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = dedup.lsh_cosine_recall(
        df, "embedding", "vec_id", "label", dims=4, n_planes=3, threshold=0.99
    ).collect()[0]
    assert out["n_true"] == 5
    assert out["n_caught"] == 5
    assert out["recall_ppm"] == 1_000_000


def test_lsh_cosine_recall_multiprobe_never_lower(spark):
    """multiprobe=1 probes every hamming-1 bucket as well, so its
    candidate set is a superset: measured recall can only go up."""
    import random

    rng = random.Random(23)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], i % 2) for i in range(80)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    kw = dict(dims=8, n_planes=4, threshold=0.3)
    base = dedup.lsh_cosine_recall(
        df, "embedding", "vec_id", "label", multiprobe=0, **kw
    ).collect()[0]
    probed = dedup.lsh_cosine_recall(
        df, "embedding", "vec_id", "label", multiprobe=1, **kw
    ).collect()[0]
    assert base["n_true"] == probed["n_true"] > 0
    assert probed["n_caught"] >= base["n_caught"]
    assert probed["recall_ppm"] >= base["recall_ppm"]


def test_dedup_report_counts_and_edges(spark):
    """Per-group before/after accounting: a fully-deduped group
    reports 0 survivors (not a dropped row), and a group appearing
    only in `after` surfaces with NULL n_before (pipeline bug made
    visible, not silently swallowed)."""
    before = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "a", 30), (4, "b", 40), (5, "b", 50)],
        "doc_id long, source string, n_chars long",
    )
    after = spark.createDataFrame(
        [(1, "a", 10), (9, "c", 90)],  # b fully deduped; c from nowhere
        "doc_id long, source string, n_chars long",
    )
    rows = {
        r["source"]: r
        for r in dedup.dedup_report(
            before, after, "source", weight_col="n_chars"
        ).collect()
    }
    a, b, c = rows["a"], rows["b"], rows["c"]
    assert (a["n_before"], a["n_after"], a["n_removed"]) == (3, 1, 2)
    assert a["removed_ppm"] == 666666
    assert (a["w_before"], a["w_after"]) == (60, 10)
    assert (b["n_before"], b["n_after"], b["n_removed"]) == (2, 0, 2)
    assert b["removed_ppm"] == 1_000_000
    assert b["w_after"] == 0
    assert c["n_before"] is None  # after-only group kept visible


def test_dedup_report_without_weight(spark):
    before = spark.createDataFrame(
        [(1, "a"), (2, "a")], "doc_id long, source string"
    )
    after = before.limit(1)
    out = dedup.dedup_report(before, after, "source").collect()[0]
    assert set(out.asDict()) == {
        "source", "n_before", "n_after", "n_removed", "removed_ppm"
    }
    assert out["removed_ppm"] == 500000
