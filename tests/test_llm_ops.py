"""LLM-pipeline operator semantics: dedup families, similarity search,
text analysis, multimodal plumbing (SURVEY.md §2.2 north star)."""

from __future__ import annotations

import math
import os

import numpy as np
import pytest

from tsdb_parquet_spark import llm


@pytest.fixture()
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (2, "the quick brown fox jumped over the lazy dog"),  # near dup
        (3, "completely different content about spark engines"),
        (4, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r["keep_id"]: r["dups"] for r in llm.exact_dedup(docs).collect()}
    assert out[0] == 2   # docs 0 and 1 collapse, min id kept
    assert out[2] == 1 and out[3] == 1 and out[4] == 1


def test_minhash_identical_docs_identical_signatures(docs):
    sigs = {r["doc_id"]: r["minhash"] for r in
            llm.minhash_signatures(docs, num_hashes=32).collect()}
    assert sigs[0] == sigs[1]
    assert len(sigs[0]) == 32
    # near-dup shares most mins; unrelated shares few
    agree_near = sum(a == b for a, b in zip(sigs[0], sigs[2]))
    agree_far = sum(a == b for a, b in zip(sigs[0], sigs[3]))
    assert agree_near > agree_far


def test_minhash_lsh_finds_near_dups_not_far_pairs(docs):
    sigs = llm.minhash_signatures(docs, num_hashes=32)
    cand = llm.minhash_lsh_candidates(sigs, bands=8)
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert (0, 1) in pairs
    assert (0, 3) not in pairs and (1, 3) not in pairs


def test_ngram_jaccard_scores(spark, docs):
    cand = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "id_a long, id_b long")
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           llm.ngram_jaccard_pairs(docs, cand).collect()}
    assert out[(0, 1)] == 1.0
    assert 0.5 < out[(0, 2)] < 1.0
    assert out[(0, 3)] < 0.2


def test_ngram_jaccard_raw_division(spark, docs):
    # round_dp=None emits the raw int/int double division — the
    # cross-engine-comparable form (q77's oracle relies on it)
    cand = spark.createDataFrame([(0, 2)], "id_a long, id_b long")
    raw = llm.ngram_jaccard_pairs(docs, cand, round_dp=None).first()["jaccard"]
    rounded = llm.ngram_jaccard_pairs(docs, cand).first()["jaccard"]
    # NOT round(raw, 6): Python rounds half-to-even while Spark's F.round
    # is HALF_UP — a jaccard with a 5 in the 7th decimal place would flake
    assert abs(rounded - raw) < 5e-7
    # the raw value is exactly representable as intersection/union
    from tsdb_parquet_spark.llm.dedup import char_shingles
    import pyspark.sql.functions as F

    sh = docs.select("doc_id", char_shingles("text").alias("sh"))
    rows = {r["doc_id"]: set(r["sh"]) for r in sh.collect()}
    expect = len(rows[0] & rows[2]) / len(rows[0] | rows[2])
    assert raw == expect


def test_simhash_hamming_ordering(docs):
    sigs = {r["doc_id"]: r["simhash"] for r in llm.simhash_signatures(docs).collect()}
    assert sigs[0] == sigs[1]

    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert hamming(sigs[0], sigs[2]) < hamming(sigs[0], sigs[3])
    assert sigs[4] == 0  # empty doc: no tokens, all bit-sums 0


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.RandomState(0)
    vecs = rng.standard_normal((20, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    q = vecs[0]
    out = llm.cosine_topk_exact(df, [float(x) for x in q], k=3, exclude_ids=[0]).collect()

    v64 = vecs.astype(np.float64)
    sims = v64 @ v64[0] / (np.linalg.norm(v64, axis=1) * np.linalg.norm(v64[0]))
    expect = sorted(((round(s, 4), i) for i, s in enumerate(sims) if i != 0),
                    key=lambda t: (-t[0], t[1]))[:3]
    assert [(r["vec_id"], r["sim"]) for r in out] == [(i, s) for s, i in expect]


def test_cosine_topk_np_equals_hof(spark):
    """The numpy fast path must return exactly what the JVM-HOF form
    returns — including on data with exact-duplicate vectors (ties at
    the boundary exercise the tie-safe per-batch prune)."""
    import numpy as np

    from tsdb_parquet_spark.llm.similarity import cosine_topk_exact, cosine_topk_np

    rng = np.random.default_rng(11)
    base = rng.standard_normal((40, 8))
    vecs = np.vstack([base, base[:10]])  # 10 exact duplicates -> tied sims
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = base[3].tolist()
    a = [tuple(r) for r in cosine_topk_exact(df, q, k=7).collect()]
    b = [tuple(r) for r in cosine_topk_np(df, q, k=7).collect()]
    assert a == b
    assert a[0][1] == 1.0  # the query vector itself (and its duplicate)


def test_lsh_ann_returns_plausible_topk(spark):
    rng = np.random.RandomState(1)
    vecs = rng.standard_normal((50, 8)).astype(np.float32)
    vecs[7] = vecs[0] + 0.01 * rng.standard_normal(8).astype(np.float32)  # planted near-dup
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    out = llm.lsh_bucketed_ann(df, [float(x) for x in vecs[0]], k=3, num_planes=4)
    got = [r["vec_id"] for r in out.collect()]
    assert 7 in got  # the planted neighbor collides in the query's bucket


def test_ivf_full_probe_equals_exact_topk(spark):
    # probing EVERY cell makes IVF exhaustive: whatever the distributed
    # k-means produced, the union of all cells is the whole table, so the
    # rerank must equal exact cosine top-k — a centroid-quality-free
    # correctness gate on the train->assign->probe->rerank plumbing.
    rng = np.random.RandomState(5)
    vecs = rng.standard_normal((80, 8)).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    q = [float(x) for x in vecs[11]]
    approx = [tuple(r) for r in llm.ivf_topk(
        df, q, k=5, num_centroids=4, nprobe=4, sample_fraction=1.0
    ).collect()]
    exact = [tuple(r) for r in llm.cosine_topk_exact(df, q, k=5).collect()]
    assert approx == exact
    # and a partial probe still finds the query vector itself
    part = [r["vec_id"] for r in llm.ivf_topk(
        df, q, k=5, num_centroids=4, nprobe=1, sample_fraction=1.0
    ).collect()]
    assert 11 in part


def test_text_quality_features(spark):
    df = spark.createDataFrame([(0, "The cat, the hat!")], "doc_id long, text string")
    r = llm.text_quality(df).collect()[0]
    assert r["n_chars"] == 17
    assert r["n_words"] == 4
    assert r["punct_ratio"] == round(2 / 17, 4)
    assert r["stopword_ratio"] == 0.5  # 'the' twice of 4 tokens
    assert r["mean_word_len"] == round((3 + 4 + 3 + 4) / 4, 4)


def test_language_id_picks_stopword_language(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat is in the hat and it is good"),
            (1, "der hund ist nicht ein katze und das ist gut"),
            (2, "le chat est dans la maison pour les amis"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["lang_pred"] for r in llm.language_id(df).collect()}
    assert out[0] == "en" and out[1] == "de" and out[2] == "fr"


def test_doc_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [(0, "Hello  World"), (1, "hello world"), (2, "hello worlds")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in llm.doc_fingerprint(df).collect()}
    assert fp[0] == fp[1]
    assert fp[0] != fp[2]


def test_rolling_fingerprint_matches_python_reference(spark):
    # the hash is DEFINED by its arithmetic — any engine (or this five-
    # line Python fold) must reproduce it exactly
    texts = [(0, "Hello  World"), (1, "hello world"), (2, "héllo 世界")]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    fp = {r["doc_id"]: r["fingerprint"] for r in llm.rolling_fingerprint(df).collect()}

    import re

    def ref(t):
        norm = re.sub(r"\s+", " ", t.lower()).strip()
        h = 0
        for ch in norm:
            h = (h * 131 + ord(ch)) % 2147483647
        return h

    assert fp == {i: ref(t) for i, t in texts}
    assert fp[0] == fp[1]  # normalization collapses case + whitespace


def test_multimodal_decode_roundtrip(spark, docs):
    table = llm.make_multimodal_table(spark, docs.filter("text <> ''"))
    out = {r["item_id"]: r for r in llm.decode_images(table, fake=True).collect()}
    assert len(out) == 4
    # payload is utf-8 of the text; n_bytes must match text length
    assert out[0]["n_bytes"] == len("the quick brown fox jumps over the lazy dog")
    assert out[0]["width"] >= 1 and out[0]["height"] >= 1


def test_multimodal_real_decode_raises_on_unparseable(spark, docs):
    # text payloads are not PNG/GIF/JPEG and Pillow is absent here, so
    # the real path must fail loudly, not fake silently
    table = llm.make_multimodal_table(spark, docs.limit(1))
    with pytest.raises(Exception):  # NotImplementedError surfaces as PythonException
        llm.decode_images(table, fake=False).collect()


def _minimal_png(w: int, h: int) -> bytes:
    """A valid w x h RGB PNG built with stdlib only (zlib + struct)."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x7f" * (3 * w) for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_multimodal_real_decode_png_gif_headers(spark):
    # fake=False without Pillow: REAL dimensions via the stdlib header
    # parser, real crc32 checksum — on a hand-built valid PNG and GIF
    import struct
    import zlib as _zlib

    png = _minimal_png(320, 41)
    gif = b"GIF89a" + struct.pack("<HH", 99, 7) + b"\x00" * 6
    rows = [(1, png, None), (2, gif, None)]
    from tsdb_parquet_spark.llm.multimodal import MULTIMODAL_SCHEMA

    table = spark.createDataFrame(rows, MULTIMODAL_SCHEMA)
    out = {r["item_id"]: r for r in llm.decode_images(table, fake=False).collect()}
    assert (out[1]["width"], out[1]["height"]) == (320, 41)
    assert (out[2]["width"], out[2]["height"]) == (99, 7)
    assert out[1]["n_bytes"] == len(png)
    assert out[1]["checksum"] == _zlib.crc32(png) & 0x7FFFFFFF


def test_parse_image_dims_jpeg_and_garbage():
    import struct

    from tsdb_parquet_spark.llm.multimodal import parse_image_dims

    # minimal JPEG: SOI + APP0 stub + SOF0 carrying (h=10, w=20)
    app0 = b"\xff\xe0" + struct.pack(">H", 4) + b"JF"
    sof0 = b"\xff\xc0" + struct.pack(">H", 8) + b"\x08" + struct.pack(">HH", 10, 20) + b"\x01"
    jpeg = b"\xff\xd8" + app0 + sof0
    assert parse_image_dims(jpeg) == (20, 10)
    assert parse_image_dims(b"not an image at all") is None
    assert parse_image_dims(_minimal_png(5, 6)) == (5, 6)


def test_embedding_neardup_finds_planted_pair(spark):
    rng = np.random.RandomState(2)
    vecs = rng.standard_normal((30, 8)).astype(np.float32)
    vecs[9] = vecs[3] + 0.01 * rng.standard_normal(8).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    out = llm.embedding_neardup_pairs(df, threshold=0.95, num_planes=4)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (3, 9) in pairs


def test_minhash_lsh_recall_vs_exact(spark):
    # SURVEY §7.1 M3 exit: LSH recall measured against exact Jaccard.
    # corpus: 30 base docs, 10 planted near-dups (small token edits)
    import itertools

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    base = [
        (i, " ".join(words[(i + j) % 8] for j in range(30)))
        for i in range(30)
    ]
    planted = [
        (100 + i, base[i][1].replace("alpha", "alpha2", 1)) for i in range(10)
    ]
    docs = spark.createDataFrame(base + planted, "doc_id long, text string")

    sh = {r["doc_id"]: set() for r in docs.collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for d, t in texts.items():
        sh[d] = {t[k : k + 5] for k in range(len(t) - 4)}
    exact_pairs = {
        (a, b)
        for a, b in itertools.combinations(sorted(texts), 2)
        if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= 0.8
    }
    assert len(exact_pairs) >= 10  # the planted pairs are above threshold

    sigs = llm.minhash_signatures(docs, num_hashes=64, shingle_n=5)
    cand = llm.minhash_lsh_candidates(sigs, bands=16)
    got = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    recall = len(exact_pairs & got) / len(exact_pairs)
    assert recall >= 0.9, f"LSH recall {recall} over {len(exact_pairs)} true pairs"


def test_multimodal_resize_and_features(spark, docs):
    from tsdb_parquet_spark.llm.multimodal import extract_features, resize_images

    table = llm.make_multimodal_table(spark, docs.filter("text <> ''"))
    resized = {r["item_id"]: r for r in resize_images(table, max_dim=64).collect()}
    assert all(max(r["width"], r["height"]) <= 64 for r in resized.values())

    feats = {r["item_id"]: r["embedding"] for r in extract_features(table, dim=8).collect()}
    assert all(len(v) == 8 for v in feats.values())
    assert feats[0] == feats[1]          # identical payloads -> identical features
    assert feats[0] != feats[3]
    # pseudo-embeddings flow into the real similarity operator
    emb_df = spark.createDataFrame(
        [(k, [float(x) for x in v]) for k, v in feats.items()],
        "vec_id long, embedding array<float>",
    )
    top = llm.cosine_topk_exact(emb_df, feats[0], k=1, exclude_ids=[0]).collect()
    assert top[0]["vec_id"] == 1 and top[0]["sim"] == 1.0


def test_png_codec_roundtrip_and_filters():
    # stdlib encode -> decode is identity; decode also handles every
    # filter type via a zlib re-encode of hand-filtered scanlines
    import struct
    import zlib as _z

    from tsdb_parquet_spark.llm.multimodal import png_decode, png_encode

    rows = [bytes((x * 7 + y * 13) & 0xFF for x in range(5 * 3)) for y in range(4)]
    b = png_encode(5, 4, 3, rows)
    w, h, ch, out = png_decode(b)
    assert (w, h, ch) == (5, 4, 3)
    assert out == rows
    # every filter code on the same raw scanlines (filter then decode):
    # build a PNG whose IDAT uses Sub/Up/Average/Paeth, assert decode
    # inverts each.  Filtering is the spec's forward transform.
    def filt(fcode, line, prev, ch):
        out = bytearray(line)
        if fcode == 1:
            for x in range(len(line) - 1, ch - 1, -1):
                out[x] = (line[x] - line[x - ch]) & 0xFF
        elif fcode == 2:
            for x in range(len(line)):
                out[x] = (line[x] - prev[x]) & 0xFF
        elif fcode == 3:
            for x in range(len(line)):
                a = line[x - ch] if x >= ch else 0
                out[x] = (line[x] - ((a + prev[x]) >> 1)) & 0xFF
        elif fcode == 4:
            for x in range(len(line)):
                a = line[x - ch] if x >= ch else 0
                c = prev[x - ch] if x >= ch else 0
                p = a + prev[x] - c
                pa, pb, pc = abs(p - a), abs(p - prev[x]), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (prev[x] if pb <= pc else c)
                out[x] = (line[x] - pr) & 0xFF
        return bytes(out)

    fcodes = [0, 1, 2, 3, 4]
    raw = b""
    prev = bytes(5 * 3)
    for fcode, line in zip(fcodes, rows + rows[:1]):
        raw += bytes([fcode]) + filt(fcode, line, prev, 3)
        prev = line

    def chunk(tag, data):
        return struct.pack(">I", len(data)) + tag + data + struct.pack(
            ">I", _z.crc32(tag + data))

    ihdr = struct.pack(">IIBBBBB", 5, 5, 8, 2, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", _z.compress(raw)) + chunk(b"IEND", b""))
    _, _, _, dec = png_decode(png)
    assert dec == rows + rows[:1]


def test_png_resize_nearest():
    from tsdb_parquet_spark.llm.multimodal import (
        png_decode,
        png_encode,
        png_resize_nearest,
    )
    rows = []
    for y in range(8):
        line = bytearray()
        for x in range(8):
            v = 255 if x >= 4 else 0
            line += bytes((v, v, v))
        rows.append(bytes(line))
    b = png_encode(8, 8, 3, rows)
    rb, nw, nh = png_resize_nearest(b, 4)
    assert (nw, nh) == (4, 4)
    w, h, ch, out = png_decode(rb)
    assert (w, h, ch) == (4, 4, 3)
    # nearest-neighbor preserves the half-black/half-white structure
    assert out[0][:3] == b"\x00\x00\x00" and out[0][-3:] == b"\xff\xff\xff"
    # no-op when already within bounds
    same, sw, sh = png_resize_nearest(b, 16)
    assert same == b and (sw, sh) == (8, 8)


def test_make_image_payload_table_real_decode_and_resize(spark, docs):
    # the driver entry's path: real PNG payloads -> fake=False decode
    # reads back EXACTLY the generated dimensions; resize without Pillow
    # really rescales pixels
    from tsdb_parquet_spark.llm.multimodal import (
        make_image_payload_table,
        resize_images,
    )

    table = make_image_payload_table(spark, docs)
    meta = {r["item_id"]: (r["meta"]["width"], r["meta"]["height"])
            for r in table.select("item_id", "meta").collect()}
    out = {r["item_id"]: r for r in llm.decode_images(table, fake=False).collect()}
    assert set(out) == set(meta)
    for iid, (w, h) in meta.items():
        assert (out[iid]["width"], out[iid]["height"]) == (w, h)
        assert 4 <= w <= 24 and 4 <= h <= 20
    resized = {r["item_id"]: r for r in
               resize_images(table, max_dim=5, fake=False).collect()}
    for iid, r in resized.items():
        assert max(r["width"], r["height"]) <= 5
        # the resized payload is itself a valid PNG with those dims
        from tsdb_parquet_spark.llm.multimodal import png_decode
        w2, h2, _, _ = png_decode(bytes(r["content"]))
        assert (w2, h2) == (r["width"], r["height"])


def test_query_selector_end_to_end(spark):
    from tsdb_parquet_spark.tables import load_table
    from tsdb_parquet_spark.timeseries import query_selector

    tsdb = load_table(spark, "/root/testdata/sf0.001", "tsdb")
    out = query_selector(
        tsdb, 'up{instance="localhost:9090",job="prometheus"}',
        t0=1679383000000, t1=1679385000000,
    )
    assert out.count() == 134  # same result as q02 (the hello.go query)


# ---------------------------------------------------------------------------
# corpus ops (llm/corpus.py): split, decontamination, repetition


def test_split_corpus_deterministic_and_nested(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in
         llm.split_corpus(df, val_frac=0.05).collect()}
    b = {r["doc_id"]: r["split"] for r in
         llm.split_corpus(df, val_frac=0.05).collect()}
    assert a == b  # no RNG state: identical across runs
    frac = sum(v == "val" for v in a.values()) / len(a)
    assert 0.02 < frac < 0.09  # ~Bernoulli(0.05)

    # monotone nesting: the 1% val set is inside the 5% one
    small = {k for k, v in
             {r["doc_id"]: r["split"] for r in
              llm.split_corpus(df, val_frac=0.01).collect()}.items() if v == "val"}
    big = {k for k, v in a.items() if v == "val"}
    assert small <= big

    # a different salt re-rolls the assignment
    c = {r["doc_id"]: r["split"] for r in
         llm.split_corpus(df, val_frac=0.05, salt="v2").collect()}
    assert c != a


def test_word_ngrams_short_doc_empty(spark):
    df = spark.createDataFrame(
        [(0, "one two three"), (1, "just two")], "doc_id long, text string")
    out = {r["doc_id"]: r["ng"] for r in
           df.select("doc_id", llm.word_ngrams("text", 3).alias("ng")).collect()}
    assert out[0] == ["one two three"]
    assert out[1] == []


def test_decontaminate_flags_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string")
    docs = spark.createDataFrame(
        [
            # contains the benchmark's first 8-gram verbatim
            (0, "intro alpha beta gamma delta epsilon zeta eta theta outro"),
            (1, "entirely unrelated words that never collide with anything"),
        ],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["n_hits"], r["contaminated"]) for r in
           llm.decontaminate(docs, bench, n=8).collect()}
    assert out[0][0] >= 1 and out[0][1] is True
    assert out[1] == (0, False)


def test_decontaminate_unique_id_contract(spark):
    """decontaminate's map-side per-doc distinct (r15) equals the r14
    global ``.distinct()`` over exploded (id, n-gram) rows ONLY under the
    documented one-row-per-document contract.  Pin both halves: (a) on
    unique ids the r15 form matches the r14 reference form exactly;
    (b) on duplicate-id input the two forms DIVERGE — the contract is a
    real precondition, not a redundancy (verdict r15 hygiene item)."""
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.llm.corpus import _exploded_ngrams

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string")

    def r14_reference(docs, n=8):
        bench_ngrams = _exploded_ngrams(bench, [], "text", n).distinct()
        doc_ngrams = _exploded_ngrams(docs, ["doc_id"], "text", n).distinct()
        hits = (doc_ngrams.join(F.broadcast(bench_ngrams), "_ng")
                .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_hits")))
        return (docs.join(hits, "doc_id", "left")
                .withColumn("n_hits", F.coalesce(F.col("n_hits"), F.lit(0))))

    hit_text = "intro alpha beta gamma delta epsilon zeta eta theta outro"
    unique = spark.createDataFrame(
        [(0, hit_text), (1, "entirely unrelated words that never collide ok")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["n_hits"]
           for r in llm.decontaminate(unique, bench, n=8).collect()}
    ref = {r["doc_id"]: r["n_hits"]
           for r in r14_reference(unique).collect()}
    assert got == ref

    # duplicate ids: the r15 per-row form counts each row's hits (the
    # join-back then pairs every docs row with the summed hit count),
    # the r14 form merges the rows' n-gram sets first — different totals
    dup = spark.createDataFrame(
        [(0, hit_text), (0, hit_text)], "doc_id long, text string")
    got_dup = sorted(r["n_hits"]
                     for r in llm.decontaminate(dup, bench, n=8).collect())
    ref_dup = sorted(r["n_hits"] for r in r14_reference(dup).collect())
    assert got_dup != ref_dup


def test_repetition_stats(spark):
    df = spark.createDataFrame(
        [
            (0, "spam spam spam spam spam spam"),   # one distinct 3-gram
            (1, "all words here are fully unique"),
            (2, "a b"),                              # shorter than n
        ],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in llm.repetition_stats(df, n=3).collect()}
    assert out[0]["n_ngrams"] == 4 and out[0]["n_distinct"] == 1
    assert out[0]["dup_frac"] == 0.75 and out[0]["repetitive"] is True
    assert out[1]["dup_frac"] == 0.0 and out[1]["repetitive"] is False
    assert out[2]["dup_frac"] is None and out[2]["repetitive"] is False


def test_neardup_clusters_min_label(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 3)], "id_a long, id_b long")
    out = {r["node"]: r["comp"] for r in llm.neardup_clusters(pairs).collect()}
    # chain 1-2-3-9 collapses to min id 1; isolated pair 5-6 to 5
    assert out == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}


def test_keep_one_per_cluster(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    kept = sorted(r["doc_id"] for r in
                  llm.keep_one_per_cluster(docs, pairs).collect())
    # cluster {1,2,3} keeps 1; {5,6} keeps 5; 0,4,7 untouched
    assert kept == [0, 1, 4, 5, 7]


def test_dedup_pipeline_simhash_to_clusters(docs):
    pairs = llm.simhash_neardup_pairs(llm.simhash_signatures(docs), max_hamming=6)
    kept = llm.keep_one_per_cluster(docs, pairs)
    ids = {r["doc_id"] for r in kept.collect()}
    # docs 0/1 identical, 2 near-dup: one survivor (the min id, 0)
    assert 0 in ids and 1 not in ids
    assert 3 in ids and 4 in ids


def test_cross_doc_ngram_dup_planted(spark):
    from tsdb_parquet_spark.llm.corpus import cross_doc_ngram_dup

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # one 8-gram
    docs = spark.createDataFrame(
        [
            (1, shared + " unique one tail words here now ok"),
            (2, shared + " different continuation entirely other text yes"),
            (3, "totally unrelated document with enough tokens to form grams"),
            (4, "short"),  # < n tokens → 0 n-grams, frac 0
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in cross_doc_ngram_dup(docs, n=8).collect()}
    # docs 1 and 2 share exactly the one leading 8-gram
    assert got[1]["n_shared"] == 1 and got[2]["n_shared"] == 1
    assert got[3]["n_shared"] == 0 and got[3]["n_ngrams"] > 0
    assert got[4]["n_ngrams"] == 0 and got[4]["shared_frac"] == 0.0


class TestSampleMixture:
    @pytest.fixture()
    def corpus(self, spark):
        rows = [(i, f"s{i % 4}") for i in range(200)]
        return spark.createDataFrame(rows, "doc_id long, source string")

    def test_integer_weights_are_exact_epochs(self, corpus):
        out = llm.sample_mixture(
            corpus, {"s0": 3.0, "s1": 0.0}, default_weight=1.0
        )
        rows = out.groupBy("source", "epoch").count().collect()
        got = {(r["source"], r["epoch"]): r["count"] for r in rows}
        # every s0 doc appears in epochs 1..3, each epoch complete (50 docs)
        assert got[("s0", 1)] == got[("s0", 2)] == got[("s0", 3)] == 50
        # s1 dropped entirely; s2/s3 pass through once
        assert not any(src == "s1" for src, _ in got)
        assert got[("s2", 1)] == 50 and got[("s3", 1)] == 50
        assert ("s2", 2) not in got

    def test_fractional_weight_is_deterministic_subset(self, corpus):
        a = llm.sample_mixture(corpus, {"s0": 0.5}, default_weight=0.0)
        b = llm.sample_mixture(corpus, {"s0": 0.5}, default_weight=0.0)
        ids_a = sorted(r["doc_id"] for r in a.collect())
        ids_b = sorted(r["doc_id"] for r in b.collect())
        assert ids_a == ids_b                      # same set every run
        assert 0 < len(ids_a) < 50                 # a strict subset
        # the 2.5x sample contains two full epochs plus exactly that subset
        up = llm.sample_mixture(corpus, {"s0": 2.5}, default_weight=0.0)
        extra = sorted(
            r["doc_id"] for r in up.collect() if r["epoch"] == 3
        )
        assert extra == ids_a

    def test_salt_rerolls_fractional_keep(self, corpus):
        a = {r["doc_id"] for r in
             llm.sample_mixture(corpus, {"s0": 0.5}, default_weight=0.0).collect()}
        b = {r["doc_id"] for r in
             llm.sample_mixture(corpus, {"s0": 0.5}, default_weight=0.0,
                                salt="other").collect()}
        assert a != b

    def test_negative_weight_rejected(self, corpus):
        with pytest.raises(ValueError):
            llm.sample_mixture(corpus, {"s0": -1.0})


def test_shuffle_shards_permutation_properties(spark):
    from tsdb_parquet_spark.llm.corpus import shuffle_shards

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    out = shuffle_shards(df, num_shards=4).select("doc_id", "shard", "pos")
    rows = out.collect()
    # a permutation: every doc exactly once, per-shard positions contiguous
    assert sorted(r["doc_id"] for r in rows) == list(range(500))
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) == {0, 1, 2, 3}
    for positions in by_shard.values():
        assert sorted(positions) == list(range(len(positions)))
    # partitioning-independent: same assignment from a different layout
    rows2 = (
        shuffle_shards(df.repartition(13), num_shards=4)
        .select("doc_id", "shard", "pos")
        .collect()
    )
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in rows2} == {
        (r["doc_id"], r["shard"], r["pos"]) for r in rows
    }
    # salt re-rolls: some docs move shards
    rerolled = shuffle_shards(df, num_shards=4, salt="v2").collect()
    moved = sum(
        1
        for a, b in zip(
            sorted(rows, key=lambda r: r["doc_id"]),
            sorted(rerolled, key=lambda r: r["doc_id"]),
        )
        if a["shard"] != b["shard"]
    )
    assert moved > 100
    # scale shape: ONE hash exchange (on shard) feeds the window sort —
    # no global single-partition ORDER BY anywhere in the plan
    plan = (
        shuffle_shards(df, num_shards=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    assert "SinglePartition" not in plan


def test_components_star_chain_and_equivalence(spark):
    # the O(log n) claim, concretely: a 200-node chain (diameter 199)
    # converges within connected_components_star's 30-round cap, where
    # min-label propagation would need 199 rounds and trips its guard
    import random

    import pytest as _pytest

    from tsdb_parquet_spark.llm.dedup import (
        connected_components_star,
        neardup_clusters,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "id_a long, id_b long"
    )
    out = connected_components_star(chain).collect()
    assert len(out) == 200
    assert {r["comp"] for r in out} == {0}
    with _pytest.raises(RuntimeError, match="did not converge"):
        neardup_clusters(chain, max_iter=20)

    # random-graph equivalence: same (node, comp) set as propagation
    rng = random.Random(42)
    edges = [(rng.randint(0, 300), rng.randint(0, 300)) for _ in range(250)]
    df = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "id_a long, id_b long"
    )
    star = {(r["node"], r["comp"]) for r in neardup_clusters(df, method="star").collect()}
    prop = {(r["node"], r["comp"]) for r in neardup_clusters(df, max_iter=50).collect()}
    assert star == prop
    # empty edge set: no pairs -> no rows, not an error
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components_star(empty).count() == 0


def test_chunk_documents_overlap_and_plan(spark):
    from tsdb_parquet_spark.llm.text import chunk_documents

    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, "a" * 500), (2, "xy"), (3, "")], "doc_id long, text string"
    )
    out = chunk_documents(df, chunk_chars=200, overlap=50).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts 1,151,301,451 -> 4 chunks; last is the 50-char tail
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["chunk_start"] for r in c1] == [1, 151, 301, 451]
    assert [r["chunk_len"] for r in c1] == [200, 200, 200, 50]
    # consecutive chunks share exactly `overlap` characters
    assert c1[0]["chunk_text"][150:] == c1[1]["chunk_text"][:50]
    # short doc: one whole-text chunk; empty doc: no chunks
    assert [r["chunk_text"] for r in by_doc[2]] == ["xy"]
    assert 3 not in by_doc
    # every input character is covered by some chunk
    covered = set()
    for r in c1:
        covered.update(range(r["chunk_start"], r["chunk_start"] + r["chunk_len"]))
    assert covered == set(range(1, 501))
    # map stage: no exchange anywhere in the plan
    plan = (
        chunk_documents(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_chars=100, overlap=100)


def test_frame_sample_real_container(spark, docs):
    # VID0 round-trip + sampled frames are themselves valid PNGs whose
    # dims match the generated per-item dimensions
    from tsdb_parquet_spark.llm.multimodal import (
        frame_sample,
        make_video_payload_table,
        png_decode,
        video_decode_frames,
        video_encode,
    )

    # pure round-trip
    fr = [b"frame-one", b"f2", b""]
    assert video_decode_frames(video_encode(fr)) == fr

    vids = make_video_payload_table(spark, docs, n_frames=5)
    out = frame_sample(vids, every_k=2).collect()
    by_item: dict[int, list] = {}
    for r in out:
        by_item.setdefault(r["item_id"], []).append(r)
    assert set(by_item) == {0, 1, 2, 3, 4}
    for iid, rows in by_item.items():
        # frames 0, 2, 4 of 5
        assert sorted(r["frame_idx"] for r in rows) == [0, 2, 4]
        for r in rows:
            w, h, ch, _ = png_decode(bytes(r["frame"]))
            assert (w, h) == (r["width"], r["height"]) and ch == 3
            assert 4 <= w <= 16 and 4 <= h <= 14
    # frames differ across frame_idx (pixel formula varies per frame)
    r0, r2 = sorted(by_item[0], key=lambda r: r["frame_idx"])[:2]
    assert bytes(r0["frame"]) != bytes(r2["frame"])


def test_decode_audio_real_wav(spark, docs):
    from tsdb_parquet_spark.llm.multimodal import (
        decode_audio,
        make_audio_payload_table,
        wav_decode_meta,
        wav_encode,
    )

    # pure round-trip: stdlib WAV encode -> RIFF chunk-walk decode
    rate, n, sa = wav_decode_meta(wav_encode([0, 100, -200, 32767, -32768]))
    assert (rate, n, sa) == (8000, 5, 100 + 200 + 32767 + 32768)

    out = {r["item_id"]: r for r in
           decode_audio(make_audio_payload_table(spark, docs)).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    for iid, r in out.items():
        assert r["sample_rate"] == 8000
        assert 50 <= r["n_samples"] <= 449
        assert r["duration_ms"] == r["n_samples"] * 1000 // 8000
        # exact loudness digest reproducible from the generation formula
        want = sum(abs(((iid * 31 + i * 97) % 4001) - 2000)
                   for i in range(r["n_samples"]))
        assert r["sum_abs"] == want
    # docs 0 and 1 are exact duplicates -> identical payload length
    assert out[0]["n_samples"] == out[1]["n_samples"]


def test_components_agree_with_union_find(spark):
    # engine-independent reference: pure-Python union-find cross-checks
    # BOTH distributed algorithms on graphs of varied shape — empty,
    # self-loops, duplicate edges, dense blobs, forests of chains
    import random

    from tsdb_parquet_spark.llm.dedup import (
        connected_components_star,
        neardup_clusters,
    )

    def union_find(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical min-id component per node
        comp = {}
        for n in nodes:
            r = find(n)
            comp.setdefault(r, []).append(n)
        return {n: min(members) for r, members in comp.items() for n in members}

    cases = []
    rng = random.Random(7)
    cases.append([(i, i) for i in range(5)])                       # self-loops only
    cases.append([(0, 1), (0, 1), (1, 0)])                         # duplicates both ways
    cases.append([(rng.randint(0, 40), rng.randint(0, 40)) for _ in range(120)])  # dense blob
    cases.append([(10 * c + i, 10 * c + i + 1)                     # forest of 6 chains
                  for c in range(6) for i in range(9)])
    cases.append([(rng.randint(0, 500), rng.randint(0, 500)) for _ in range(80)])  # sparse

    for edges in cases:
        nodes = sorted({x for e in edges for x in e})
        want = union_find(edges, nodes)
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        star = {r["node"]: r["comp"] for r in connected_components_star(df).collect()}
        prop = {r["node"]: r["comp"] for r in neardup_clusters(df, max_iter=60).collect()}
        assert star == want, f"star mismatch on {len(edges)}-edge case"
        assert prop == want, f"propagate mismatch on {len(edges)}-edge case"


def test_bm25_matches_python_reference(spark):
    from tsdb_parquet_spark.llm.ranking import bm25_rank

    corpus = [
        (0, "spark join window join join"),
        (1, "window window hash table scan"),
        (2, "hash hash hash hash hash hash"),
        (3, "completely unrelated words here"),
        (4, "join window hash"),
    ]
    terms, k1, b = ["join", "window", "hash"], 1.2, 0.75
    toks = {i: t.lower().split() for i, t in corpus}
    n = len(corpus)
    avgdl = sum(len(v) for v in toks.values()) / n
    dfreq = {t: sum(1 for v in toks.values() if t in v) for t in terms}

    def ref_score(doc):
        s = 0.0
        for t in terms:
            tf = toks[doc].count(t)
            if tf == 0:
                continue
            idf = math.log((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
            s += idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * len(toks[doc]) / avgdl)
            )
        return s

    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r["doc_id"]: r["bm25"] for r in bm25_rank(df, terms, k1=k1, b=b).collect()}
    assert 3 not in got  # no query term -> no row
    for doc in (0, 1, 2, 4):
        assert got[doc] == pytest.approx(ref_score(doc), abs=1e-6)


def test_bm25_rarer_term_outranks_common_at_equal_tf(spark):
    from tsdb_parquet_spark.llm.ranking import bm25_rank

    # 'rare' appears in 1 doc, 'common' in 9 -> idf(rare) >> idf(common);
    # equal tf and equal length isolates the idf effect
    rows = [(0, "rare pad pad")] + [(i, "common pad pad") for i in range(1, 10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_rank(df, ["rare", "common"], top_k=10).collect()
    assert out[0]["doc_id"] == 0 and out[0]["bm25"] > out[1]["bm25"]


def test_ivf_at_rest_layout_prunes_partitions(spark, tmp_path):
    import pyspark.sql.functions as F

    rng = np.random.RandomState(3)
    vecs = rng.standard_normal((120, 8)).astype(np.float32)
    src = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    ).write.parquet(src)
    build = lambda: spark.read.parquet(src)
    qvec = [float(x) for x in vecs[0]]

    tbl = llm.ensure_ivf_layout(spark, "ann_ivf_test", build, dim=8,
                                num_centroids=4, source_paths=src)
    # every vector lands in exactly one cell; all cells within range
    assert tbl.count() == 120
    cells = [r["cell"] for r in tbl.select("cell").distinct().collect()]
    assert all(0 <= c <= 3 for c in cells) and len(cells) >= 2

    out = llm.ivf_topk_at_rest(spark, "ann_ivf_test", qvec, k=3, nprobe=2,
                               source_paths=src)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # planning-time pruning: the cell filter reaches PartitionFilters,
    # not a post-scan Filter over all partitions
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters", 1)[1][:200]
    got = [r["vec_id"] for r in out.collect()]
    assert got[0] == 0  # the query vector itself is its own top-1

    # cross-session cold start: the in-memory catalog forgets BOTH
    # tables while the warehouse dirs persist.  DROP TABLE on a managed
    # table deletes its files, so simulate by copying the committed
    # dirs aside, dropping, and restoring — ensure_ivf_layout must then
    # take the DDL re-registration path (no retrain, no
    # LOCATION_ALREADY_EXISTS crash) for main AND centroids tables.
    import shutil

    from tsdb_parquet_spark.sources import source_fingerprint
    fp = source_fingerprint(src)
    wh = spark.conf.get("spark.sql.warehouse.dir")
    for pre in ("file://", "file:"):
        if wh.startswith(pre):
            wh = wh[len(pre):]
            break
    for t in (f"ann_ivf_test_{fp}", f"ann_ivf_test_centroids_{fp}"):
        shutil.copytree(os.path.join(wh, t), str(tmp_path / t))
        spark.sql(f"DROP TABLE IF EXISTS `{t}`")
        shutil.copytree(str(tmp_path / t), os.path.join(wh, t))
    tbl2 = llm.ensure_ivf_layout(spark, "ann_ivf_test", build, dim=8,
                                 num_centroids=4, source_paths=src)
    assert tbl2.count() == 120
    out2 = [r["vec_id"] for r in
            llm.ivf_topk_at_rest(spark, "ann_ivf_test", qvec, k=3, nprobe=2,
                                 source_paths=src).collect()]
    assert out2 == got  # identical probe across sessions/registrations


def test_bm25_indexed_matches_inline_and_prunes_buckets(spark, tmp_path):
    from tsdb_parquet_spark.llm.ranking import (
        bm25_index_layouts,
        bm25_rank,
        bm25_rank_indexed,
    )

    rows = [(i, f"alpha beta gamma term{i % 7} alpha") for i in range(40)]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    build = lambda: spark.read.parquet(src)
    terms = ["alpha", "term3"]

    inline = bm25_rank(build(), terms, top_k=10).collect()
    post, stats = bm25_index_layouts("bm25_idx_test", build, source_paths=src)
    idx = bm25_rank_indexed(post.ensure(spark), stats.ensure(spark), terms,
                            top_k=10)
    plan = idx._jdf.queryExecution().executedPlan().toString()
    # the term filter prunes buckets at planning time — the scan opens
    # only the buckets holding the query terms, not all 16
    import re
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m and int(m.group(1)) < int(m.group(2))
    assert idx.collect() == inline  # identical scores, identical order


def test_stratified_sample_exact_quota_and_nesting(spark):
    rows = [(i, f"s{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    def ids(n):
        return {r["doc_id"] for r in
                llm.stratified_sample(df, "source", n).collect()}

    s5, s10 = ids(5), ids(10)
    assert len(s5) == 15 and len(s10) == 30   # exactly n per stratum
    assert s5 < s10                            # quotas nest
    # partitioning-independent: repartitioned input picks the same set
    assert {r["doc_id"] for r in
            llm.stratified_sample(df.repartition(7), "source", 5).collect()} == s5
    # small stratum: fewer rows, never an error
    tiny = spark.createDataFrame([(0, "only")], "doc_id long, source string")
    assert llm.stratified_sample(tiny, "source", 10).count() == 1


def test_weighted_sample_es_reference_nesting_and_bias(spark):
    import hashlib

    rows = [(i, f"g{i % 2}", (i % 7) + 1) for i in range(200)] + [(200, "g0", 0)]
    df = spark.createDataFrame(rows, "doc_id long, g string, w int")

    # pure-Python reference of the exact same formula
    def key(i, w, salt="ws1"):
        u = (int(hashlib.md5(f"{i}{salt}".encode()).hexdigest()[:15], 16) + 1) / (1 << 60)
        return round(math.log(u) / w, 9)

    want = sorted(((key(i, w), -i) for i, _, w in rows if w > 0), reverse=True)
    want_ids = [-ni for _, ni in want[:10]]
    got = [r.doc_id for r in
           llm.weighted_sample(df, 10, "w", id_col="doc_id").collect()]
    assert got == want_ids
    assert 200 not in {r.doc_id for r in
                       llm.weighted_sample(df, 201, "w").collect()}  # w=0 out

    # nesting: top-5 is a prefix of top-10 (keys are per-row constants)
    top5 = [r.doc_id for r in llm.weighted_sample(df, 5, "w").collect()]
    assert top5 == got[:5]

    # grouped form: exactly k per group, each group's picks = that
    # group's global key order
    per_g = llm.weighted_sample(df, 4, "w", group_col="g").collect()
    by_g = {}
    for r in per_g:
        by_g.setdefault(r.g, []).append(r.doc_id)
    assert all(len(v) == 4 for v in by_g.values())
    for g, ids in by_g.items():
        ref = [-ni for kk, ni in
               sorted(((key(i, w), -i) for i, gg, w in rows
                       if gg == g and w > 0), reverse=True)[:4]]
        assert sorted(ids) == sorted(ref)

    # weight bias: across salts, weight-7 rows are picked far more often
    # than weight-1 rows (expectation ratio ~7)
    heavy = light = 0
    wmap = {i: w for i, _, w in rows}
    for s in range(30):
        for r in llm.weighted_sample(df, 20, "w", salt=f"s{s}").collect():
            if wmap[r.doc_id] == 7:
                heavy += 1
            elif wmap[r.doc_id] == 1:
                light += 1
    assert heavy > 3 * max(light, 1)


def test_extract_features_real_pixel_grid(spark):
    from tsdb_parquet_spark.llm.multimodal import (
        extract_features,
        png_encode,
        png_grid_features,
    )

    # solid black, solid white, and a left-black/right-white split
    black = png_encode(8, 8, 3, [bytes(24)] * 8)
    white = png_encode(8, 8, 3, [b"\xff" * 24] * 8)
    split = png_encode(8, 8, 3, [bytes(12) + b"\xff" * 12] * 8)
    df = spark.createDataFrame(
        [(0, black), (1, white), (2, split)], "item_id long, content binary"
    )
    out = {r.item_id: r.embedding for r in
           extract_features(df, dim=16, fake=False).collect()}
    assert out[0] == [0.0] * 16 and out[1] == [1.0] * 16
    # split image: left grid columns black, right white, row-major 4x4
    assert out[2] == [0.0, 0.0, 1.0, 1.0] * 4
    # distributed result == the pure function
    assert out[2] == png_grid_features(split, 4, 4)

    # near-dup pixels -> near vectors; unrelated -> far (the aHash point)
    near = png_encode(8, 8, 3, [bytes(12) + b"\xfe" * 12] * 8)
    df2 = spark.createDataFrame([(3, near)], "item_id long, content binary")
    v3 = extract_features(df2, dim=16, fake=False).first().embedding
    d_near = sum((a - b) ** 2 for a, b in zip(v3, out[2]))
    d_far = sum((a - b) ** 2 for a, b in zip(v3, out[1]))
    assert d_near < 0.001 < d_far

    import pytest as _pytest
    with _pytest.raises(ValueError):
        extract_features(df, dim=7, fake=False)
    with _pytest.raises(Exception):  # non-PNG payload raises in the task
        bad = spark.createDataFrame([(9, b"JUNK")], "item_id long, content binary")
        extract_features(bad, dim=16, fake=False).collect()


def test_unigram_logprob_hand_corpus_and_cap(spark):
    # corpus: "a a b" + "a c" -> counts a=3, b=1, c=1, total=5
    df = spark.createDataFrame(
        [(0, "a a b"), (1, "a C"), (2, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_tokens, r.sum_llu, r.lp_tok) for r in
           llm.unigram_logprob(df, vocab_size=10).collect()}

    li = {w: round(math.log(c / 5) * 1_000_000)
          for w, c in {"a": 3, "b": 1, "c": 1}.items()}
    # doc 0: a a b; doc 1: a c (lowercased); doc 2: no tokens -> no row
    want0 = 2 * li["a"] + li["b"]
    want1 = li["a"] + li["c"]
    assert out[0] == (3, want0, round(want0 / 3 / 1_000_000, 6))
    assert out[1] == (2, want1, round(want1 / 2 / 1_000_000, 6))
    assert 2 not in out

    # vocab cap: with vocab_size=1 only 'a' is in-vocab; b and c take
    # the fixed OOV floor
    capped = {r.doc_id: r.sum_llu for r in
              llm.unigram_logprob(df, vocab_size=1, oov_lp=-15.0).collect()}
    assert capped[0] == 2 * li["a"] + (-15_000_000)
    assert capped[1] == li["a"] + (-15_000_000)

    # higher-quality (in-distribution) text scores above gibberish when
    # the LM comes from a reference corpus (lm_df reuse path)
    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)],
        "doc_id long, text string",
    )
    from tsdb_parquet_spark.llm.text import unigram_logprob as _u
    import pyspark.sql.functions as F
    cnt = ref.select(F.explode(F.split(F.lower("text"), "[ \\t\\n\\r\\f]+")).alias("_w")) \
             .groupBy("_w").agg(F.count(F.lit(1)).alias("_c"))
    total = cnt.agg(F.sum("_c")).first()[0]
    lm_df = cnt.select("_w", F.round(F.log(F.col("_c").cast("double") / F.lit(float(total))) * F.lit(1_000_000)).cast("bigint").alias("_li"))
    test = spark.createDataFrame(
        [(0, "the quick fox"), (1, "zxqy wvut kjih")],
        "doc_id long, text string",
    )
    scored = {r.doc_id: r.lp_tok for r in
              _u(test, lm_df=lm_df).collect()}
    assert scored[0] > scored[1]  # fluent beats gibberish


def test_real_codec_slots_into_batch_interface(spark):
    """VERDICT r8 item 6: prove MECHANICALLY that a real image library
    slots into the documented mapInPandas batch shape -- inject a stub
    through the same parameter a real Pillow / vision model would use
    and check the rows route through it, schema and partitioning
    untouched.  The stubs are defined in-function so cloudpickle ships
    them by VALUE to workers -- exactly how a notebook user would inject
    a codec; a production job imports it from an installed package."""
    import zlib

    from tsdb_parquet_spark.llm.multimodal import (
        decode_images,
        extract_features,
    )

    class StubCodec:
        # Pillow-contract stand-in: open(fp) -> ctx mgr with .size
        class _Im:
            def __init__(self, size):
                self.size = size

            def __enter__(self):
                return self

            def __exit__(self, *a):
                return False

        @staticmethod
        def open(fp):
            data = fp.read()
            # "decode": dims from the first two payload bytes
            return StubCodec._Im((data[0] + 1, data[1] + 1))

    def stub_vision_model(blobs):
        # batch-predict contract: list[bytes] -> list[list[float]]
        return [[float(len(b)), float(b[0]), float(b[-1])] for b in blobs]

    payloads = [(0, bytes([4, 9, 1, 1])), (1, bytes([7, 2, 255]))]
    df = spark.createDataFrame(payloads, "item_id long, content binary")

    got = {r.item_id: r for r in decode_images(df, decoder=StubCodec).collect()}
    assert (got[0].width, got[0].height) == (5, 10)
    assert (got[1].width, got[1].height) == (8, 3)
    # the surrounding plumbing stays the engine's: byte counts + crc32
    assert got[0].n_bytes == 4
    assert got[0].checksum == zlib.crc32(bytes([4, 9, 1, 1])) & 0x7FFFFFFF
    # declared schema unchanged by the injection
    assert [f.name for f in decode_images(df, decoder=StubCodec).schema.fields] == [
        f.name for f in decode_images(df, fake=True).schema.fields
    ]

    # embedding-model contract: model(list[bytes]) -> list[list[float]]
    emb = {r.item_id: r.embedding for r in
           extract_features(df, model=stub_vision_model).collect()}
    assert emb[0] == [4.0, 4.0, 1.0]
    assert emb[1] == [3.0, 7.0, 255.0]


def test_segment_and_boilerplate_strip(spark):
    from tsdb_parquet_spark.llm.paragraphs import (
        boilerplate_strip,
        segment_documents,
    )

    # "FOOTER" appears in 3 docs -> boilerplate at max_docs=2; "intro"
    # appears in 2 docs -> kept; unique bodies kept; d4 is ALL
    # boilerplate -> no output row
    docs = spark.createDataFrame(
        [
            (1, "intro\n\nbody one\n\nFOOTER"),
            (2, "intro\n\nbody two\n\nFOOTER"),
            (3, "solo three\n\nFOOTER"),
            (4, "FOOTER"),
        ],
        "doc_id long, text string",
    )
    segs = segment_documents(docs)
    out = {r["doc_id"]: r for r in
           boilerplate_strip(segs, max_docs=2).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["clean_text"] == "intro body one"
    assert out[2]["clean_text"] == "intro body two"
    assert out[3]["clean_text"] == "solo three"
    assert out[1]["n_segments"] == 2 and out[1]["n_dropped"] == 1
    assert out[3]["n_segments"] == 1 and out[3]["n_dropped"] == 1

    # reconstruction preserves position order even when the surviving
    # segments are non-contiguous
    docs2 = spark.createDataFrame(
        [(1, "z\n\nBP\n\na"), (2, "BP"), (3, "BP")],
        "doc_id long, text string",
    )
    out2 = boilerplate_strip(segment_documents(docs2), max_docs=2).collect()
    assert {r["doc_id"]: r["clean_text"] for r in out2} == {1: "z a"}

    # empty segments from doubled delimiters never count
    docs3 = spark.createDataFrame([(9, "a\n\n\n\nb")], "doc_id long, text string")
    segs3 = segment_documents(docs3)
    assert segs3.count() == 2


def test_incremental_dedup_against_bucketed_index(spark, tmp_path):
    from tsdb_parquet_spark.llm.incremental import (
        ensure_fingerprint_index,
        incremental_dedup,
    )

    corpus = spark.createDataFrame(
        [(i, f"doc body number {i}") for i in range(40)],
        "doc_id long, text string",
    )
    src = str(tmp_path / "corpus.parquet")
    corpus.write.parquet(src)
    idx = ensure_fingerprint_index(
        spark, "incdedup_test", lambda: spark.read.parquet(src),
        num_buckets=8, source_paths=src,
    )

    # batch: 2 exact dups of corpus docs (one with case/whitespace
    # noise — normalization must still catch it), 2 new docs, and a
    # duplicated new doc (batch self-dedup keeps the lower id)
    batch = spark.createDataFrame(
        [
            (100, "doc body number 3"),
            (101, "  DOC   body Number 7 "),
            (102, "genuinely new content A"),
            (103, "genuinely new content B"),
            (104, "genuinely new content A"),
        ],
        "doc_id long, text string",
    )
    out = incremental_dedup(idx, batch)
    got = sorted(r["doc_id"] for r in out.collect())
    assert got == [102, 103]

    # the corpus side must come off the bucketed layout with NO
    # Exchange: the ONLY fingerprint exchange in the plan is the batch
    # side shuffling to match the index's buckets (and the batch-internal
    # keep/semi-join reuses that partitioning — no further exchanges)
    plan = out._jdf.queryExecution().executedPlan().toString()
    idx_scan = [ln for ln in plan.split("\n") if "incdedup_test_fpidx" in ln]
    assert idx_scan and "Bucketed: true" in idx_scan[-1]
    assert "SortMergeJoin" in plan and "LeftAnti" in plan
    # every exchange must be keyed on the BATCH side's fingerprint
    # attribute — the index side's attribute (from the bucketed scan
    # line) must never appear in an exchange: the corpus never shuffles
    import re
    idx_attr = re.search(r"\[(fingerprint#\d+L?)\]", idx_scan[-1]).group(1)
    exchanges = re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
    assert exchanges and all(e.startswith("fingerprint") for e in exchanges), exchanges
    assert idx_attr not in exchanges, (idx_attr, exchanges)


def test_leakage_safe_split_co_splits_duplicates(spark):
    from tsdb_parquet_spark.llm.corpus import leakage_safe_split, split_corpus
    from tsdb_parquet_spark.llm.text import doc_fingerprint

    # 3 duplicate families x many ids + singletons; with a per-ID split
    # some family would straddle train/val at this val_frac — the
    # cluster-keyed split may not
    rows = [(i, f"family {i % 3} text") for i in range(60)]
    rows += [(100 + i, f"unique text {i}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    clusters = doc_fingerprint(docs).withColumnRenamed("fingerprint", "cluster_id")
    out = leakage_safe_split(docs, clusters, val_frac=0.5).collect()
    by_text = {}
    for r in out:
        by_text.setdefault(r["text"], set()).add(r["split"])
    for text, splits in by_text.items():
        assert len(splits) == 1, f"{text!r} straddles {splits}"
    # sanity: with val_frac=0.5 both splits are populated
    assert {r["split"] for r in out} == {"train", "val"}
    # docs missing from the mapping fall back to singleton id clusters
    part = leakage_safe_split(
        docs, clusters.filter("doc_id < 50"), val_frac=0.5
    )
    assert part.filter("split IS NULL").count() == 0


def test_counts_path_matches_raw_token_family(spark):
    """The at-rest counts tables (doc_token_counts / doc_bigram_counts)
    must serve BIT-IDENTICAL results through unigram_logprob,
    lexical_stats, and bigram_logprob — every statistic is a sum over
    token/bigram multiplicities, so counting first changes nothing."""
    from tsdb_parquet_spark.llm.text import (
        bigram_logprob,
        doc_bigram_counts,
        doc_token_counts,
        lexical_stats,
        unigram_logprob,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "a"),
            (2, "the dog\tsat  on\nthe log the dog", "a"),
            (3, "ONE", "b"),          # 1 token -> no bigram row
            (4, "", "b"),             # 0 tokens -> no row on either path
            (5, "repeat repeat repeat", "b"),
        ],
        "doc_id long, text string, source string",
    )
    tc = doc_token_counts(docs)
    bc = doc_bigram_counts(docs)

    raw_u = sorted(tuple(r) for r in unigram_logprob(docs, vocab_size=4).collect())
    mv_u = sorted(tuple(r) for r in
                  unigram_logprob(None, vocab_size=4, counts_df=tc).collect())
    assert raw_u == mv_u and len(raw_u) == 4

    raw_l = sorted(tuple(r) for r in lexical_stats(docs).collect())
    mv_l = sorted(tuple(r) for r in
                  lexical_stats(None, counts_df=tc).collect())
    assert raw_l == mv_l and len(raw_l) == 2

    raw_b = sorted(tuple(r) for r in bigram_logprob(docs, vocab_size=3).collect())
    mv_b = sorted(tuple(r) for r in
                  bigram_logprob(None, vocab_size=3, counts_df=bc).collect())
    assert raw_b == mv_b and len(raw_b) == 3  # docs 1, 2, 5 only

    # pre-built LM path with counts (build-once-score-many split)
    lm = spark.createDataFrame([("the cat", -100000)], "_b string, _li bigint")
    raw_pb = sorted(tuple(r) for r in
                    bigram_logprob(docs, lm_df=lm).collect())
    mv_pb = sorted(tuple(r) for r in
                   bigram_logprob(None, lm_df=lm, counts_df=bc).collect())
    assert raw_pb == mv_pb


def test_incremental_near_dup_against_band_index(spark, tmp_path):
    from tsdb_parquet_spark.llm.incremental import (
        ensure_band_index,
        incremental_near_dup,
        incremental_near_dup_candidates,
    )

    corpus = spark.createDataFrame(
        [(i, f"the quick brown fox number {i} jumps over the lazy dog "
             f"while reciting paragraph {i} of the corpus charter")
         for i in range(30)],
        "doc_id long, text string",
    )
    src = str(tmp_path / "corpus.parquet")
    corpus.write.parquet(src)
    idx = ensure_band_index(
        spark, "incnear_test", lambda: spark.read.parquet(src),
        num_buckets=8, source_paths=src,
    )
    # bands rows per doc in the index
    assert idx.count() == 30 * 16

    batch = spark.createDataFrame(
        [
            # near-dup of corpus doc 3: one appended word, ~97% shingle
            # overlap -> >=1 of 16 bands collides w.p. ~1-3e-11
            (100, "the quick brown fox number 3 jumps over the lazy dog "
                  "while reciting paragraph 3 of the corpus charter today"),
            # exact copy of corpus doc 7 (near-dup subsumes exact)
            (101, "the quick brown fox number 7 jumps over the lazy dog "
                  "while reciting paragraph 7 of the corpus charter"),
            # genuinely new content, zero shingle overlap
            (102, "completely unrelated telemetry ingestion pipeline "
                  "specification draft with novel vocabulary throughout"),
        ],
        "doc_id long, text string",
    )
    out = incremental_near_dup(idx, batch)
    assert sorted(r["doc_id"] for r in out.collect()) == [102]

    pairs = incremental_near_dup_candidates(idx, batch)
    got = {(r["batch_id"], r["corpus_id"]) for r in pairs.collect()}
    assert (100, 3) in got and (101, 7) in got
    assert all(b != 102 for b, _ in got)

    # the corpus side must come off the bucketed layout with NO
    # Exchange (q146 discipline): every exchange keys on the BATCH
    # side's band_key / doc_id attributes, never the index's
    import re
    plan = out._jdf.queryExecution().executedPlan().toString()
    idx_scan = [ln for ln in plan.split("\n") if "incnear_test_bandidx" in ln]
    assert idx_scan and "Bucketed: true" in idx_scan[-1]
    assert "LeftSemi" in plan and "LeftAnti" in plan
    idx_attr = re.search(r"\[doc_id#\d+L?, (band_key#\d+L?)\]", idx_scan[-1])
    if idx_attr is None:  # column-pruned scan: band_key only
        idx_attr = re.search(r"\[(band_key#\d+L?)\]", idx_scan[-1])
    exchanges = re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
    assert exchanges and idx_attr.group(1) not in exchanges, (
        idx_attr.group(1), exchanges)


def test_incremental_near_dup_portable_matches_and_no_corpus_exchange(
    spark, tmp_path
):
    """The portable-family twin (r12, q146c): same accept/hold-out
    behavior as the xxhash64 path on the same fixture, and the same
    no-corpus-Exchange plan property off its bucketed band index."""
    import re

    from tsdb_parquet_spark.llm.incremental import (
        ensure_band_index_portable,
        incremental_near_dup_portable,
    )

    corpus = spark.createDataFrame(
        [(i, f"the quick brown fox number {i} jumps over the lazy dog "
             f"while reciting paragraph {i} of the corpus charter")
         for i in range(30)],
        "doc_id long, text string",
    )
    src = str(tmp_path / "pcorpus.parquet")
    corpus.write.parquet(src)
    idx = ensure_band_index_portable(
        spark, "incnearp_test", lambda: spark.read.parquet(src),
        num_buckets=8, source_paths=src,
    )
    assert idx.count() == 30 * 8  # 8 bands per doc (q162 defaults)

    batch = spark.createDataFrame(
        [
            (100, "the quick brown fox number 3 jumps over the lazy dog "
                  "while reciting paragraph 3 of the corpus charter today"),
            (101, "the quick brown fox number 7 jumps over the lazy dog "
                  "while reciting paragraph 7 of the corpus charter"),
            (102, "completely unrelated telemetry ingestion pipeline "
                  "specification draft with novel vocabulary throughout"),
        ],
        "doc_id long, text string",
    )
    out = incremental_near_dup_portable(idx, batch)
    assert sorted(r["doc_id"] for r in out.collect()) == [102]

    plan = out._jdf.queryExecution().executedPlan().toString()
    idx_scan = [ln for ln in plan.split("\n") if "incnearp_test_bandidx" in ln]
    assert idx_scan and "Bucketed: true" in idx_scan[-1]
    assert "LeftSemi" in plan and "LeftAnti" in plan
    idx_attr = re.search(r"\[doc_id#\d+L?, (band_key#\d+)\]", idx_scan[-1])
    if idx_attr is None:  # column-pruned scan: band_key only
        idx_attr = re.search(r"\[(band_key#\d+)\]", idx_scan[-1])
    exchanges = re.findall(r"Exchange hashpartitioning\(([^,)]+)", plan)
    assert exchanges and idx_attr.group(1) not in exchanges, (
        idx_attr.group(1), exchanges)


def test_near_dup_pairs_from_band_index_matches_inline(spark, tmp_path):
    """Within-corpus pairs served from the at-rest portable band index
    must equal minhash_lsh_portable's inline result (same hash family,
    same rerank), and the candidate self-join must consume the index's
    at-rest buckets (no band_key exchange)."""
    import re

    from tsdb_parquet_spark.llm.dedup import minhash_lsh_portable
    from tsdb_parquet_spark.llm.incremental import (
        ensure_band_index_portable,
        near_dup_pairs_from_band_index,
    )

    rows = []
    for i in range(20):
        t = (f"the quick brown fox number {i} jumps over the lazy dog "
             f"while reciting paragraph {i} of the corpus charter")
        rows.append((i, t))
        if i % 4 == 0:  # near-dup: one appended token
            rows.append((100 + i, t + " tail"))
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "ndpcorpus.parquet")
    corpus.write.parquet(src)
    docs = spark.read.parquet(src)
    idx = ensure_band_index_portable(
        spark, "ndpairs_test", lambda: spark.read.parquet(src),
        num_buckets=8, source_paths=src,
    )
    got_df = near_dup_pairs_from_band_index(idx, docs)
    got = sorted(tuple(r) for r in got_df.collect())
    want = sorted(
        tuple(r) for r in minhash_lsh_portable(docs).collect()
    )
    assert got == want and len(got) >= 5
    # plan: the index scan is bucketed and band_key never exchanges
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    idx_scans = [ln for ln in plan.split("\n") if "ndpairs_test_bandidx" in ln]
    assert idx_scans and all("Bucketed: true" in ln for ln in idx_scans)
    band_attrs = set(re.findall(r"band_key#\d+", plan))
    exchanged = set(re.findall(
        r"Exchange hashpartitioning\((band_key#\d+)", plan))
    assert band_attrs and not exchanged
    # r16: the rerank is the COGROUPED kernel — the shingle side is a
    # single (id, shingles) subtree feeding one cogroup input (arrays
    # cross once per group, never once per pair), so exactly one docs
    # (doc_id, text) scan survives in the executed FINAL plan, and the
    # candidate subtree's two references (group keys + doc demand) are
    # served by exchange reuse.  Slice off the "== Initial Plan =="
    # section AQE appends, which reprints the pre-reuse tree.
    final = plan.split("== Initial Plan ==")[0]
    doc_scans = re.findall(r"FileScan parquet \[doc_id#\d+L?,text#", final)
    assert len(doc_scans) == 1, final
    assert "ReusedExchange" in final, final
    assert "FlatMapCoGroupsInArrow" in final, final


def test_near_dup_pairs_missing_doc_drops_for_int_and_string_ids(
    spark, tmp_path
):
    """A candidate pair whose doc is missing from ``docs`` (a band index
    built over more docs than the rerank sees) drops the pair — for
    integer ids (the cogrouped kernel) exactly as for string ids (the
    join fallback)."""
    from tsdb_parquet_spark.llm.incremental import (
        ensure_band_index_portable,
        near_dup_pairs_from_band_index,
    )

    rows = []
    for i in range(20):
        t = (f"the quick brown fox number {i} jumps over the lazy dog "
             f"while reciting paragraph {i} of the corpus charter")
        rows.append((i, t))
        if i % 4 == 0:  # near-dup: one appended token
            rows.append((100 + i, t + " tail"))
    got = {}
    for kind in ("bigint", "string"):
        corpus = spark.createDataFrame(rows, "doc_id long, text string")
        corpus = corpus.withColumn("doc_id", corpus["doc_id"].cast(kind))
        src = str(tmp_path / f"ndmiss_{kind}.parquet")
        corpus.write.parquet(src)
        idx = ensure_band_index_portable(
            spark, f"ndmiss_{kind}", lambda: spark.read.parquet(src),
            num_buckets=8, source_paths=src,
        )
        docs = spark.read.parquet(src).filter("CAST(doc_id AS BIGINT) != 104")
        got[kind] = {
            (frozenset((int(r["id_a"]), int(r["id_b"]))), r["jaccard"])
            for r in near_dup_pairs_from_band_index(idx, docs).collect()
        }
    assert got["bigint"] == got["string"]
    pairs = {p for p, _ in got["bigint"]}
    assert frozenset((4, 104)) not in pairs and len(pairs) >= 4


def test_incremental_band_param_guards(spark):
    """Indivisible num_hashes/bands must raise (not silently drop
    trailing signature slots), and the index name carries the
    hash-family params so a mismatched index/batch replay pairs a
    nonexistent table instead of silently never colliding."""
    from tsdb_parquet_spark.llm.incremental import (
        band_index_name,
        incremental_near_dup,
        incremental_near_dup_portable,
    )

    batch = spark.createDataFrame(
        [(1, "hello world hello world hello world")], "doc_id long, text string"
    )
    dummy = spark.createDataFrame([("x",)], "band_key string")
    with pytest.raises(ValueError):
        incremental_near_dup_portable(dummy, batch, num_hashes=30, bands=8)
    with pytest.raises(ValueError):
        incremental_near_dup(dummy, batch, num_hashes=100, bands=16)
    assert band_index_name("c", 32, 8, 5, 42) == "c_bandidx_h32b8n5s42"
    assert band_index_name("c") == "c_bandidx"


def test_dsir_select_matches_python_reference(spark):
    """dsir_select's integer importance weights must equal a pure-Python
    DSIR computation (hashed-token unigram LMs, add-one smoothing,
    fixed-point bucket log-ratios, per-doc integer sums)."""
    import hashlib
    import math

    from tsdb_parquet_spark.llm.corpus import dsir_select

    target = spark.createDataFrame(
        [(900 + i, "science physics experiment data analysis") for i in range(3)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (1, "science experiment results and data"),
            (2, "celebrity gossip fashion week highlights"),
            (3, "physics data analysis from the experiment"),
            (4, "sports scores and match highlights"),
            (5, ""),  # zero tokens -> no output row
        ],
        "doc_id long, text string",
    )
    m = 64
    out = dsir_select(raw, target, k=4, n_buckets=m)
    got = {r["doc_id"]: (r["n_tokens"], r["lr_units"]) for r in out.collect()}

    def bucket(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % m

    tgt_toks = [w for _ in range(3)
                for w in "science physics experiment data analysis".split()]
    raw_docs = {
        1: "science experiment results and data".split(),
        2: "celebrity gossip fashion week highlights".split(),
        3: "physics data analysis from the experiment".split(),
        4: "sports scores and match highlights".split(),
    }
    raw_toks = [w for ws in raw_docs.values() for w in ws]
    T, R = len(tgt_toks), len(raw_toks)
    ct, cr = {}, {}
    for w in tgt_toks:
        ct[bucket(w)] = ct.get(bucket(w), 0) + 1
    for w in raw_toks:
        cr[bucket(w)] = cr.get(bucket(w), 0) + 1
    li = {b: int(round((math.log((ct.get(b, 0) + 1) / (T + m))
                        - math.log((cr.get(b, 0) + 1) / (R + m))) * 1e6))
          for b in range(m)}
    want = {d: (len(ws), sum(li[bucket(w)] for w in ws))
            for d, ws in raw_docs.items()}
    assert got == want  # k=4 keeps all scoring docs; doc 5 has no row
    # the science-y docs must outrank the off-domain ones
    ranked = sorted(want, key=lambda d: (-want[d][1], d))
    assert set(ranked[:2]) == {1, 3}
    # k nests: top-2 is a prefix of top-4
    top2 = [r["doc_id"] for r in dsir_select(raw, target, k=2,
                                             n_buckets=m).collect()]
    assert sorted(top2) == sorted(ranked[:2])


def test_dsir_counts_path_matches_raw(spark):
    from tsdb_parquet_spark.llm.corpus import dsir_select
    from tsdb_parquet_spark.llm.text import doc_token_counts

    import pytest as _pytest

    target = spark.createDataFrame(
        [(900, "science physics experiment data analysis")],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (1, "science experiment results and data data"),
            (2, "celebrity gossip fashion week highlights"),
            (3, "physics data analysis from the experiment"),
        ],
        "doc_id long, text string",
    )
    rc = doc_token_counts(raw, extra_cols=())
    tc = doc_token_counts(target, extra_cols=())
    raw_res = sorted(tuple(r) for r in
                     dsir_select(raw, target, k=3, n_buckets=64).collect())
    mv_res = sorted(tuple(r) for r in
                    dsir_select(None, None, k=3, n_buckets=64,
                                raw_counts=rc, target_counts=tc).collect())
    assert raw_res == mv_res and len(raw_res) == 3
    with _pytest.raises(ValueError, match="together"):
        dsir_select(raw, target, raw_counts=rc)


def test_ffd_pack_reference_and_capacity(spark):
    from tsdb_parquet_spark.llm.corpus import ffd_pack

    rows = [(i, t) for i, t in enumerate([7, 5, 5, 4, 3, 2, 2, 1, 9, 12])]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    out = ffd_pack(df, cap=10, n_shards=1)
    got = {r["doc_id"]: r["bin_id"] for r in out.collect()}

    # pure-python FFD reference: sort tokens desc (id asc), first fit
    order = sorted(rows, key=lambda r: (-r[1], r[0]))
    rem, want = [], {}
    for i, t in order:
        for j, r in enumerate(rem):
            if r >= t:
                rem[j] = r - t
                want[i] = j
                break
        else:
            rem.append(10 - t)
            want[i] = len(rem) - 1
    assert got == want
    # oversize doc (12 > cap) opened its own bin and nothing joined it
    big_bin = got[9]
    assert [d for d, b in got.items() if b == big_bin] == [9]
    # capacity: every bin except the oversize one sums <= cap
    sums = {}
    for (i, t) in rows:
        sums[got[i]] = sums.get(got[i], 0) + t
    assert all(s <= 10 for b, s in sums.items() if b != big_bin)


def test_ffd_pack_sharding_is_deterministic(spark):
    from tsdb_parquet_spark.llm.corpus import ffd_pack

    rows = [(i, 3 + i % 5) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    a = sorted(map(tuple, ffd_pack(df, cap=8, n_shards=4).collect()))
    b = sorted(map(tuple, ffd_pack(
        df.repartition(7), cap=8, n_shards=4).collect()))
    assert a == b
    assert {r[0] for r in a} == {0, 1, 2, 3}


def test_minhash_lsh_portable_finds_dups(spark):
    from tsdb_parquet_spark.llm.dedup import minhash_lsh_portable

    base = "the quick brown fox jumps over the lazy dog " * 6
    rows = [
        (1, base),
        (2, base),                      # exact dup -> jaccard 1.0
        (3, base.replace("lazy", "sleepy")),   # near dup
        (4, "completely different content about spark and parquet " * 5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in minhash_lsh_portable(df, threshold=0.5).collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and got[(1, 3)] < 1.0
    assert not any(4 in p for p in got)


def test_simhash_portable_pairs(spark):
    from tsdb_parquet_spark.llm.dedup import simhash_portable_pairs

    base = "the quick brown fox jumps over the lazy dog " * 6
    rows = [(1, base), (2, base), (3, base.replace("lazy", "sleepy")),
            (4, "totally different words entirely here about engines " * 5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_portable_pairs(df, max_hamming=10).collect()}
    assert got[(1, 2)] == 0
    assert 0 < got[(1, 3)] <= 10
    assert not any(4 in p for p in got)
    # tokenizer regression: 'f' must NOT be a separator (the SQL-escape
    # trap — a single-backslash \f in the F.expr literal becomes a
    # literal 'f' in the class).  With the bug, "fof fff off" splits ON
    # the f's too and tokenizes to ["o", "o"] — IDENTICAL to "o o" —
    # so the pair below would collide at hamming 0.  With the correct
    # class the tokens are ["fof", "fff", "off"] vs ["o", "o"] and the
    # signatures differ (advice r11: the old form never exercised this).
    one = spark.createDataFrame([(9, "fof fff off")], "doc_id long, text string")
    bug_twin = spark.createDataFrame([(11, "o o")], "doc_id long, text string")
    s1 = simhash_portable_pairs(one.union(one.withColumn("doc_id", one.doc_id + 1)))
    assert s1.count() == 1  # identical docs pair up; tokens survived
    cross = simhash_portable_pairs(one.union(bug_twin), max_hamming=0)
    assert cross.count() == 0  # 'f' survived in tokens => signatures differ


def test_embedding_neardup_portable(spark):
    from tsdb_parquet_spark.llm.dedup import embedding_neardup_portable

    import random
    rng = random.Random(3)
    base = [rng.gauss(0, 1) for _ in range(16)]
    near = [x + 0.01 for x in base]
    far = [rng.gauss(0, 1) for _ in range(16)]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)],
        "vec_id long, embedding array<float>")
    got = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in embedding_neardup_portable(
               df, threshold=0.9, num_planes=4).collect()}
    assert (1, 2) in got and got[(1, 2)] > 0.99
    assert not any(3 in p for p in got)
    # advice r11: empty input returns an empty pair frame instead of
    # crashing the dim inference; explicit dim skips the inference job
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert embedding_neardup_portable(empty).count() == 0
    got_dim = {(r["id_a"], r["id_b"]) for r in embedding_neardup_portable(
        df, threshold=0.9, num_planes=4, dim=16).collect()}
    assert (1, 2) in got_dim


def test_batch_cosine_topk_two_phase_exact(spark):
    """The salted two-phase top-k must equal a single global ranking —
    including across 4-dp cosine TIES (broken by id) and when k exceeds
    a salt group's population."""
    import math
    import random

    import pyspark.sql.functions as F

    from tsdb_parquet_spark.llm.similarity import batch_cosine_topk

    rng = random.Random(7)
    vecs = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(60)]
    # inject exact duplicates of vector 0 -> cosine ties at any dp
    vecs += [(100, list(vecs[0][1])), (101, list(vecs[0][1]))]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    probes = df.filter(F.col("vec_id") < 2)
    got = [
        (r["qid"], r["rank"], r["vec_id"])
        for r in batch_cosine_topk(df, probes, k=7, salt_buckets=5)
        .orderBy("qid", "rank").collect()
    ]

    # single-phase python reference (float32 storage -> float64 math,
    # sequential fold like the engine)
    rows = df.collect()
    stored = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows}
    def cos(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(dot / (na * nb), 4)
    want = []
    for qid in (0, 1):
        scored = sorted(
            ((cos(v, stored[qid]), vid) for vid, v in stored.items()),
            key=lambda t: (-t[0], t[1]),
        )
        want += [(qid, i + 1, vid) for i, (_, vid) in enumerate(scored[:7])]
    assert got == want
    # the duplicate ids 100/101 tie with vec 0 at cosine 1.0 for qid 0
    top_qid0 = [vid for q, _, vid in got if q == 0][:3]
    assert top_qid0 == [0, 100, 101]


def test_batch_cosine_topk_np_equals_hof(spark):
    """The BLAS batch path must return exactly the HOF path's result
    (same rounded-cosine/id ordering key, batch-local pruning under the
    final order) — the cosine_topk_np equality contract, batched."""
    import random

    from tsdb_parquet_spark.llm.similarity import (
        batch_cosine_topk,
        batch_cosine_topk_np,
    )

    rng = random.Random(11)
    vecs = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(300)]
    vecs += [(400, list(vecs[2][1])), (401, list(vecs[2][1]))]  # exact ties
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    probes = df.filter(df.vec_id < 3)
    a = [(r["qid"], r["rank"], r["vec_id"], r["cosine"])
         for r in batch_cosine_topk(df, probes, k=8)
         .orderBy("qid", "rank").collect()]
    b = [(r["qid"], r["rank"], r["vec_id"], r["cosine"])
         for r in batch_cosine_topk_np(df, probes, k=8)
         .orderBy("qid", "rank").collect()]
    assert a == b
    # empty probe set returns an empty frame, not a crash
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert batch_cosine_topk_np(df, empty).count() == 0


def test_batch_cosine_topk_np_preserves_id_types(spark):
    """qid/id field types mirror the inputs (advice r12): int and
    string id columns must survive the Arrow schema check, return in
    their own type, and the empty-probe schema must match the HOF
    twin's instead of a hardcoded long."""
    import random

    import pyspark.sql.functions as F

    from tsdb_parquet_spark.llm.similarity import (
        batch_cosine_topk,
        batch_cosine_topk_np,
        cosine_topk_np,
    )

    rng = random.Random(5)
    rows = [(f"doc{i:03d}", [rng.gauss(0, 1) for _ in range(8)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    probes = df.filter(F.col("vec_id") < "doc002")
    got = batch_cosine_topk_np(df, probes, k=3)
    want = batch_cosine_topk(df, probes, k=3)
    assert got.schema == want.schema
    assert [tuple(r) for r in got.orderBy("qid", "rank").collect()] == \
           [tuple(r) for r in want.orderBy("qid", "rank").collect()]
    # empty-probe schema matches the HOF twin (string id, not long) —
    # names+types (nullability legitimately differs on a literal frame)
    empty = spark.createDataFrame([], "vec_id string, embedding array<float>")
    assert [(f.name, f.dataType)
            for f in batch_cosine_topk_np(df, empty).schema] == \
           [(f.name, f.dataType) for f in want.schema]
    # int (32-bit) ids round-trip too
    dfi = spark.createDataFrame(
        [(i, v) for i, (_, v) in enumerate(rows)],
        "vec_id int, embedding array<float>",
    )
    out_i = batch_cosine_topk_np(dfi, dfi.filter("vec_id < 2"), k=3)
    assert dict(out_i.dtypes)["vec_id"] == "int"
    assert out_i.count() == 6
    # and the single-query np path mirrors its input id type as well
    single = cosine_topk_np(df, rows[0][1], k=3, sim_alias="sim")
    assert dict(single.dtypes)["vec_id"] == "string"
    assert single.count() == 3
