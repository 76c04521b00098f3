"""Unit tests for the training-data pipeline operators."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from irstats2_spark.pipeline.dedup import (
    exact_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash,
    word_shingles,
)
from irstats2_spark.pipeline.multimodal import (
    decode_image_stub,
    frame_sample,
    media_from_documents,
)
from irstats2_spark.pipeline.similarity import brute_force_topk, ivf_assign, ivf_topk
from irstats2_spark.pipeline.textstats import lang_id, quality_features, fingerprint


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup
        (3, "the quick brown fox jumps over the lazy cat", "en"),  # near dup
        (4, "der hund und die katze und der vogel sind nicht da", "de"),
        (5, "completely different words about spark engines here now", "en"),
        (6, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG", "en"),  # case dup
    ]
    return spark.createDataFrame(rows, "doc_id int, text string, lang string")


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs).collect()
    groups = {r.text_hash: (r.keeper_id, r.n_docs) for r in out}
    # doc1 == doc2 exactly; doc6 differs in case (different md5)
    assert (1, 2) in groups.values()
    assert len(groups) == 5


def test_ngram_jaccard_near_dup(spark, docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    # normalized text makes 1,2,6 identical (jaccard 1.0); 1-3 near dup
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 6)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert (1, 5) not in pairs


def test_minhash_lsh_finds_identical(spark, docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_dedup(docs, threshold=0.5).collect()
    }
    # identical docs always share all bands
    assert pairs[(1, 2)] == 1.0
    assert pairs[(2, 6)] == 1.0


def python_simhash(text: str, bits: int = 16) -> int:
    import re

    norm = re.sub(r"\s+", " ", re.sub(r"[^a-z0-9\s]", " ", text.lower())).strip()
    words = {w for w in norm.split(" ") if w}
    votes = [0] * bits
    for w in words:
        h = int(hashlib.md5(w.encode()).hexdigest()[:8], 16)
        for b in range(bits):
            votes[b] += 1 if (h >> b) & 1 else -1
    return sum(2**b for b in range(bits) if votes[b] > 0)


def test_simhash_matches_python_oracle(spark, docs):
    got = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    for row in docs.collect():
        assert got[row.doc_id] == python_simhash(row.text), row.doc_id
    # identical normalized docs share the signature
    assert got[1] == got[2] == got[6]


def python_simhash64(text: str) -> tuple[int, int]:
    """(lo, hi) 64-bit signature mirroring dedup.simhash64: word hashes
    from md5 hex slices [0:8] and [8:16]."""
    import re

    norm = re.sub(r"\s+", " ", re.sub(r"[^a-z0-9\s]", " ", text.lower())).strip()
    words = {w for w in norm.split(" ") if w}
    out = []
    for sl in (slice(0, 8), slice(8, 16)):
        votes = [0] * 32
        for w in words:
            h = int(hashlib.md5(w.encode()).hexdigest()[sl], 16)
            for b in range(32):
                votes[b] += 1 if (h >> b) & 1 else -1
        out.append(sum(2**b for b in range(32) if votes[b] > 0))
    return out[0], out[1]


def test_simhash_hamming_pairs_equal_brute_force(spark, docs):
    """Banded blocking (4 bands, d <= bands-1) must return EXACTLY the
    all-pairs Hamming<=3 set — the pigeonhole guarantee, checked against
    a brute-force scan of the python_simhash64 signatures."""
    from itertools import combinations

    from irstats2_spark.pipeline.dedup import simhash64, simhash_hamming_pairs

    sigs = {r.doc_id: python_simhash64(r.text) for r in docs.collect()}
    got_sigs = {r.doc_id: (r.sim_lo, r.sim_hi) for r in simhash64(docs).collect()}
    assert got_sigs == sigs

    def ham(a, b):
        return bin(sigs[a][0] ^ sigs[b][0]).count("1") + bin(
            sigs[a][1] ^ sigs[b][1]
        ).count("1")

    expect = {
        (a, b): ham(a, b)
        for a, b in combinations(sorted(sigs), 2)
        if ham(a, b) <= 3
    }
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_hamming_pairs(docs).collect()
    }
    assert got == expect
    assert got[(1, 2)] == 0  # exact dups agree bit-for-bit


def test_simhash_hamming_bucket_cap_drops_boilerplate(spark):
    """max_bucket_size caps collision buckets: 5 identical docs form one
    5-member bucket in every band; cap 4 must drop all their pairs."""
    from irstats2_spark.pipeline.dedup import simhash_hamming_pairs

    rows = [(i, "same exact boilerplate text everywhere") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    assert simhash_hamming_pairs(df, max_bucket_size=4).count() == 0
    assert simhash_hamming_pairs(df).count() == 10


def test_word_shingles(spark, docs):
    sh = word_shingles(docs.filter(F.col("doc_id") == 1), "text", "doc_id", 3)
    shingles = {r.shingle for r in sh.collect()}
    assert "the quick brown" in shingles
    assert len(shingles) == 7  # 9 words -> 7 trigrams


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0, 0.0]),  # near vec 0
        (3, [0.0, 0.98, 0.2, 0.0]),  # near vec 1
        (4, [0.5, 0.5, 0.5, 0.5]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark, emb):
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = brute_force_topk(emb, queries, k=3).orderBy("rank").collect()
    assert [r.vec_id for r in out] == [0, 2, 4]
    assert out[0].cosine == 1.0


def test_ivf_assign_and_topk(spark, emb):
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "centroid_id long, centroid_vec array<float>",
    )
    assigned = ivf_assign(emb, cents)
    m = {r.vec_id: r.centroid_id for r in assigned.collect()}
    assert m[0] == 0 and m[2] == 0
    assert m[1] == 1 and m[3] == 1

    queries = spark.createDataFrame(
        [(100, [0.99, 0.01, 0.0, 0.0])], "query_id long, query_vec array<float>"
    )
    q_assigned = ivf_assign(
        queries, cents, id_col="query_id", vec_col="query_vec"
    )
    out = ivf_topk(assigned, q_assigned, k=2).orderBy("rank").collect()
    # only cluster-0 members are candidates
    assert [r.vec_id for r in out] == [0, 2]


def test_lang_id(spark, docs):
    out = {r.doc_id: r.detected for r in docs.select(
        "doc_id", lang_id(F.col("text")).alias("detected")
    ).collect()}
    assert out[1] == "en"
    assert out[4] == "de"


def test_quality_features(spark, docs):
    row = quality_features(docs).filter(F.col("doc_id") == 1).head()
    assert row.n_tokens == 9
    assert row.stopword_ratio > 0
    caps = quality_features(docs).filter(F.col("doc_id") == 6).head()
    assert caps.all_caps


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta"), (3, "alpha beta delta")],
        "doc_id int, text string",
    )
    fps = {r.doc_id: r.fp for r in df.select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    ).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]


def test_multimodal_decode(spark, docs):
    media = media_from_documents(docs)
    feats = decode_image_stub(media)
    rows = {r.media_id: r for r in feats.collect()}
    assert len(rows) == 6
    r1 = rows[1]
    n = len("the quick brown fox jumps over the lazy dog")
    assert r1.n_bytes == n
    assert r1.width == (n * 7) % 1024 + 1
    assert 0.0 <= r1.mean_intensity <= 1.0


def test_frame_sample(spark, docs):
    media = media_from_documents(docs)
    frames = frame_sample(media, every_n_bytes=10)
    per_doc = (
        frames.groupBy("media_id").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    n_expected = {r.media_id: (r.n) for r in per_doc}
    assert n_expected[1] == 5  # 43 bytes -> ceil-ish chunks of 10


def test_image_header_parse_pure():
    """_parse_image_header against hand-built byte fixtures: real PNG
    IHDR / JPEG SOF (behind skippable APP segments and standalone
    markers) / GIF87a+89a headers, truncated variants, and garbage."""
    from irstats2_spark.pipeline.multimodal import _parse_image_header

    png = (
        b"\x89PNG\r\n\x1a\n"
        + (13).to_bytes(4, "big") + b"IHDR"
        + (640).to_bytes(4, "big") + (360).to_bytes(4, "big")
        + bytes([8, 6, 0, 0, 0]) + b"\xde\xad\xbe\xef"
    )
    assert _parse_image_header(png) == ("png", 640, 360, 4)
    # recognized container, truncated header -> dims None
    assert _parse_image_header(png[:14]) == ("png", None, None, None)

    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + bytes(9)
    sof2 = (
        b"\xff\xc2" + (17).to_bytes(2, "big") + bytes([8])
        + (480).to_bytes(2, "big") + (852).to_bytes(2, "big")
        + bytes([3]) + bytes(9)
    )
    # standalone TEM marker (no length field) between segments
    jpeg = b"\xff\xd8" + app0 + b"\xff\x01" + sof2
    assert _parse_image_header(jpeg) == ("jpeg", 852, 480, 3)
    assert _parse_image_header(b"\xff\xd8\xff\xe0\x00\x10JF") == (
        "jpeg", None, None, None,
    )

    gif = b"GIF87a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little")
    assert _parse_image_header(gif + b"\xf7\x00\x00") == ("gif", 320, 200, 3)
    assert _parse_image_header(b"GIF89a\x01") == ("gif", None, None, None)

    assert _parse_image_header(b"") == ("unknown", None, None, None)
    assert _parse_image_header(b"plain text") == ("unknown", None, None, None)

    # hostile/corrupt PNG: in-bounds header but dims past the PNG spec's
    # 2^31-1 cap must degrade to NULL dims, not crash the Int32 batch
    # column downstream (r11 ADVICE)
    for w, h in ((0xFFFFFFFF, 360), (640, 0x80000000)):
        evil = (
            b"\x89PNG\r\n\x1a\n"
            + (13).to_bytes(4, "big") + b"IHDR"
            + w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, 6, 0, 0, 0]) + b"\xde\xad\xbe\xef"
        )
        assert _parse_image_header(evil) == ("png", None, None, None)


def test_image_header_parse_property(  # hypothesis: random valid + garbage
):
    """Property check on the pure header parser: randomized valid
    PNG/JPEG/GIF headers round-trip their dims/channels exactly, and
    arbitrary byte garbage never crashes (returns 'unknown' or a
    recognized container with NULL dims)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from irstats2_spark.pipeline.multimodal import (
        PNG_COLOR_CHANNELS,
        _parse_image_header,
    )

    @settings(max_examples=150, deadline=None)
    @given(
        w=st.integers(1, 65535),
        h=st.integers(1, 65535),
        color=st.sampled_from([0, 2, 3, 4, 6]),
        ncomp=st.integers(1, 4),
        trailer=st.binary(max_size=40),
        kind=st.sampled_from(["png", "jpeg", "gif", "garbage"]),
    )
    def check(w, h, color, ncomp, trailer, kind):
        if kind == "png":
            b = (
                b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
                + w.to_bytes(4, "big") + h.to_bytes(4, "big")
                + bytes([8, color, 0, 0, 0]) + b"\x00\x00\x00\x00" + trailer
            )
            assert _parse_image_header(b) == (
                "png", w, h, PNG_COLOR_CHANNELS[color],
            )
        elif kind == "jpeg":
            app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + bytes(14)
            sof = (
                b"\xff\xc0" + (8 + 3 * ncomp).to_bytes(2, "big") + bytes([8])
                + h.to_bytes(2, "big") + w.to_bytes(2, "big")
                + bytes([ncomp]) + bytes(3 * ncomp)
            )
            b = b"\xff\xd8" + app0 + sof + trailer
            assert _parse_image_header(b) == ("jpeg", w, h, ncomp)
        elif kind == "gif":
            b = (
                b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
                + trailer
            )
            assert _parse_image_header(b) == ("gif", w, h, 3)
        else:
            fmt, pw, ph, pc = _parse_image_header(trailer)  # never raises
            if fmt == "unknown":
                assert (pw, ph, pc) == (None, None, None)

    check()


def test_parse_image_dims_roundtrip(spark):
    """parse(synthesize(doc)) recovers the doc_id-derived properties for
    every format branch, with NULL dims on the bare branch — the local
    twin of the multimodal_dims computed-property oracle."""
    from irstats2_spark.pipeline.multimodal import (
        media_with_real_headers,
        parse_image_dims,
    )

    docs = spark.createDataFrame(
        [(i, f"payload {i} " * (i % 5 + 1)) for i in range(24)],
        "doc_id long, text string",
    )
    out = {r.media_id: r for r in
           parse_image_dims(media_with_real_headers(docs)).collect()}
    assert len(out) == 24
    for i in range(24):
        r = out[i]
        if i % 4 == 3:
            assert (r.format, r.width, r.height, r.channels) == (
                "unknown", None, None, None,
            )
            continue
        assert r.format == {0: "png", 1: "jpeg", 2: "gif"}[i % 4]
        assert r.width == i % 640 + 1
        assert r.height == (i * 3) % 480 + 1
        if i % 4 == 0:
            assert r.channels == {0: 1, 1: 3, 2: 2, 3: 4}[(i // 4) % 4]
        elif i % 4 == 1:
            assert r.channels == (1 if (i // 4) % 2 == 0 else 3)
        else:
            assert r.channels == 3


def test_parse_image_dims_streams_stateless(spark, tmp_path):
    """parse_image_dims is the multimodal family's streaming tier as-is:
    a stateless Arrow mapInPandas runs unchanged on a streaming frame —
    arriving payloads parse bit-identically to batch."""
    from irstats2_spark.pipeline.multimodal import (
        media_with_real_headers,
        parse_image_dims,
    )

    docs = spark.createDataFrame(
        [(i, f"payload {i}") for i in range(12)], "doc_id long, text string"
    )
    batch = {
        r.media_id: (r.format, r.width, r.height, r.channels)
        for r in parse_image_dims(media_with_real_headers(docs)).collect()
    }
    src = tmp_path / "docs"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(
            '{"doc_id": %d, "text": "payload %d"}' % (i, i) for i in range(12)
        )
        + "\n"
    )
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    out = parse_image_dims(media_with_real_headers(stream))
    q = (
        out.writeStream.format("memory")
        .queryName("mm_dims_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        r.media_id: (r.format, r.width, r.height, r.channels)
        for r in spark.sql("SELECT * FROM mm_dims_stream").collect()
    }
    assert got == batch


def test_multimodal_resize_stub(spark):
    from irstats2_spark.pipeline.multimodal import (
        media_from_documents,
        resize_stub,
    )

    docs = spark.createDataFrame(
        [(1, "abc"), (2, ""), (3, "a longer payload " * 10)],
        "doc_id long, text string",
    )
    out = resize_stub(media_from_documents(docs), width=8, height=4).collect()
    assert len(out) == 3
    for r in out:
        assert (r.width, r.height) == (8, 4)
        assert len(r.content) == 32
    by_id = {r.media_id: bytes(r.content) for r in out}
    assert by_id[1] == (b"abc" * 11)[:32]  # deterministic tiling


# ---------------------------------------------------------------------------
# Connected components (dedup clustering)
# ---------------------------------------------------------------------------
def test_connected_components_chain_and_islands(spark):
    from irstats2_spark.pipeline.dedup import connected_components

    # chain 1-2-3-4 (diameter 3 => several propagation rounds), island 7-8,
    # plus a pair that merges two already-labeled subchains late: 4-9, 9-10
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (7, 8), (9, 4), (10, 9)],
        "doc_a int, doc_b int",
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 9: 1, 10: 1, 7: 7, 8: 7}


def test_connected_components_empty(spark):
    from irstats2_spark.pipeline.dedup import connected_components

    pairs = spark.createDataFrame([], "doc_a int, doc_b int")
    assert connected_components(pairs).collect() == []


# ---------------------------------------------------------------------------
# Deterministic sampling / splits
# ---------------------------------------------------------------------------
def python_bucket(key, salt="", buckets=10_000):
    return int(hashlib.md5(f"{salt}{key}".encode()).hexdigest()[:8], 16) % buckets


def test_hash_bucket_matches_python_md5(spark):
    from irstats2_spark.pipeline.sampling import hash_bucket

    df = spark.createDataFrame([(i,) for i in range(50)], "id long")
    got = {
        r.id: r.b
        for r in df.select("id", hash_bucket(F.col("id"), salt="s:").alias("b")).collect()
    }
    assert got == {i: python_bucket(i, "s:") for i in range(50)}


def test_split_assign_deterministic_and_partition_invariant(spark):
    from irstats2_spark.pipeline.sampling import split_assign

    df = spark.createDataFrame([(i,) for i in range(300)], "id long")
    a = {r.id: r.split for r in split_assign(df, "id").collect()}
    b = {r.id: r.split for r in split_assign(df.repartition(7), "id").collect()}
    assert a == b  # pure function of the key, not of layout
    frac_train = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.8 < frac_train < 0.97  # ~0.9 on 300 keys
    assert set(a.values()) == {"train", "val", "test"}


def test_stratified_sample_superset_under_growth(spark):
    from irstats2_spark.pipeline.sampling import stratified_sample

    rows = [(i, "en" if i % 2 else "de") for i in range(400)]
    df = spark.createDataFrame(rows, "id long, lang string")
    small = {r.id for r in stratified_sample(df, "lang", {"en": 0.2, "de": 0.1}, "id").collect()}
    large = {r.id for r in stratified_sample(df, "lang", {"en": 0.5, "de": 0.3}, "id").collect()}
    assert small <= large  # growing a fraction only adds rows
    none_kept = stratified_sample(df, "lang", {}, "id", default_fraction=0.0).count()
    assert none_kept == 0


# ---------------------------------------------------------------------------
# Hyperplane (sign-random-projection) signatures
# ---------------------------------------------------------------------------
def test_hyperplane_signatures_match_numpy_and_bucket_neighbors(spark):
    import numpy as np

    from irstats2_spark.pipeline.similarity import (
        _hyperplanes,
        hyperplane_lsh_candidates,
        hyperplane_signatures,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=16)
    near = base + rng.normal(scale=0.01, size=16)  # cosine ~ 1
    far = rng.normal(size=16)
    rows = [(1, [float(x) for x in base]), (2, [float(x) for x in near]),
            (3, [float(x) for x in far])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    sigs = {r.vec_id: r.hp_sig for r in
            hyperplane_signatures(df, dim=16, planes=16).collect()}

    # python oracle: same quantization + same md5 hyperplanes
    w = np.array(_hyperplanes(16, 16))
    for vid, vec in rows:
        q = np.floor(np.array([np.float32(x) for x in vec], dtype=np.float64) * 1000 + 0.5)
        expect = sum((1 << p) for p in range(16) if q @ w[p] >= 0)
        assert sigs[vid] == expect, vid

    # near-identical vectors agree on (almost) every bit
    assert bin(sigs[1] ^ sigs[2]).count("1") <= 2
    sig_df = spark.createDataFrame(
        [(k, v) for k, v in sigs.items()], "vec_id int, hp_sig long")
    cands = {(r.doc_a, r.doc_b) for r in
             hyperplane_lsh_candidates(sig_df).collect()}
    assert (1, 2) in cands


# ---------------------------------------------------------------------------
# Corpus curation composition
# ---------------------------------------------------------------------------
def test_curate_corpus_gates_dedups_and_splits(spark):
    from irstats2_spark.pipeline.curate import curate_corpus, curation_summary

    rows = [
        (1, "alpha beta gamma delta epsilon zeta", "en"),
        (2, "alpha beta gamma delta epsilon zeta", "en"),   # exact dup of 1
        (3, "too short", "en"),                              # fails min_tokens
        (4, "the the the the the the", "en"),                # all stopwords
        (5, "one two three four five six seven", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string, lang string")
    out = curate_corpus(docs, min_tokens=5, max_stopword_ratio=0.6).collect()
    kept = {r.doc_id for r in out}
    assert kept == {1, 5}  # 2 deduped to keeper 1; 3 too short; 4 stopwordy
    assert all(r.split in ("train", "val", "test") for r in out)
    assert all(r.n_tokens >= 5 for r in out)

    summary = curation_summary(curate_corpus(docs, min_tokens=5)).collect()
    assert sum(r.n_docs for r in summary) == 2
    assert sum(r.total_tokens for r in summary) == 13


def test_hyperplane_topk_finds_near_neighbor(spark):
    import numpy as np

    from irstats2_spark.pipeline.similarity import hyperplane_topk

    rng = np.random.default_rng(11)
    base = rng.normal(size=16)
    vecs = [(1, base), (2, base + rng.normal(scale=0.01, size=16))] + [
        (i, rng.normal(size=16)) for i in range(3, 30)
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id int, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(1, [float(x) for x in base])], "query_id int, query_vec array<float>"
    )
    got = {r.vec_id: r.rank for r in hyperplane_topk(emb, queries, dim=16, k=3).collect()}
    # the query itself and its near-twin must be the top-2 candidates
    assert got[1] == 1 and got[2] == 2


def test_hyperplane_gemm_matches_catalyst_expr(spark):
    import numpy as np

    from irstats2_spark.pipeline.similarity import (
        hyperplane_sig_expr,
        hyperplane_signatures,
        quantize,
    )

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=24)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    gemm = {r.vec_id: r.hp_sig for r in hyperplane_signatures(df, dim=24).collect()}
    expr = {
        r.vec_id: r.hp_sig
        for r in df.select(
            "vec_id",
            hyperplane_sig_expr(quantize(F.col("embedding")), 24).alias("hp_sig"),
        ).collect()
    }
    assert gemm == expr


def test_sessionize_gap_boundary_and_tiebreak(spark):
    # Repeat.pm:89-95 parity: a gap EQUAL to the timeout stays in the same
    # session (the comparison is strictly greater); equal timestamps order
    # by the tiebreak column.
    from irstats2_spark.pipeline.sessions import session_stats, sessionize

    rows = [
        # user 1: 0s, +1800s (same session), +1801s after that (new)
        (1, 1, "2024-01-01 00:00:00"),
        (2, 1, "2024-01-01 00:30:00"),
        (3, 1, "2024-01-01 01:00:01"),
        # user 2: two events at the SAME timestamp -> one session,
        # deterministic order by event_id
        (4, 2, "2024-01-01 12:00:00"),
        (5, 2, "2024-01-01 12:00:00"),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts string").select(
        "event_id", "user_id", F.to_timestamp("ts").alias("ts")
    )
    got = {
        (r.user_id, r.event_id): r.session_no
        for r in sessionize(df, gap_seconds=1800).collect()
    }
    assert got == {(1, 1): 1, (1, 2): 1, (1, 3): 2, (2, 4): 1, (2, 5): 1}

    stats = {r.user_id: r for r in session_stats(df, gap_seconds=1800).collect()}
    assert stats[1].n_sessions == 2 and stats[1].max_session_events == 2
    assert stats[2].n_sessions == 1 and stats[2].n_events == 2


def test_chunk_dedup_ownership(spark):
    # 3 docs of 2-token chunks: doc 10 = "a b c d", doc 20 repeats doc 10's
    # first chunk twice, doc 30 is fresh. First instance (min doc_id, then
    # min chunk_idx) owns; every other instance is a drop.
    from irstats2_spark.pipeline.dedup import chunk_dedup_stats

    rows = [(10, "a b c d"), (20, "a b a b"), (30, "x y")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_chunks, r.n_kept)
        for r in chunk_dedup_stats(df, chunk_tokens=2).collect()
    }
    # doc 20: both chunks are "a b", owned by doc 10 chunk 0 -> keeps none
    assert got == {10: (2, 2), 20: (2, 0), 30: (1, 1)}


def test_vocab_top_k_orders_and_breaks_ties(spark):
    from irstats2_spark.pipeline.textstats import vocab_top_k

    rows = [(1, "b a a"), (2, "b c")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r.token, r.n_total, r.n_docs) for r in vocab_top_k(df, k=2).collect()]
    # 'a' and 'b' tie at 2 total -> alphabetical; 'a' in 1 doc, 'b' in 2
    assert got == [("a", 2, 1), ("b", 2, 2)]


def test_asof_join_prior_semantics(spark):
    from irstats2_spark.pipeline.asof import asof_join_prior

    left = spark.createDataFrame(
        [
            (100, 1, "2024-01-01 10:00:00"),  # after two clicks
            (101, 1, "2024-01-01 08:00:00"),  # exactly AT click 11's ts
            (102, 2, "2024-01-01 10:00:00"),  # user 2 has no clicks
        ],
        "event_id long, user_id long, ts string",
    ).select("event_id", "user_id", F.to_timestamp("ts").alias("ts"))
    right = spark.createDataFrame(
        [
            (10, 1, "2024-01-01 07:00:00"),
            (11, 1, "2024-01-01 08:00:00"),
            (12, 1, "2024-01-01 08:00:00"),  # same ts as 11: max id wins
            (13, 1, "2024-01-01 11:00:00"),  # in the future, never matches
        ],
        "event_id long, user_id long, ts string",
    ).select("event_id", "user_id", F.to_timestamp("ts").alias("ts"))

    res = {
        r.event_id: (r.asof.event_id if r.asof else None)
        for r in asof_join_prior(
            left, right, on=["user_id"], payload=("event_id",)
        ).collect()
    }
    # inclusive: event 101 at 08:00 matches the 08:00 click, higher id wins
    assert res == {100: 12, 101: 12, 102: None}

    strict = {
        r.event_id: (r.asof.event_id if r.asof else None)
        for r in asof_join_prior(
            left, right, on=["user_id"], payload=("event_id",), inclusive=False
        ).collect()
    }
    # exclusive: 101 must NOT see the same-instant clicks -> only 07:00
    assert strict == {100: 12, 101: 10, 102: None}


def test_approx_unique_visitors_error_bound(spark):
    # Round-2 contract: the gate query asserts the HLL++ estimate in-query
    # (approx_ok = |approx - exact| <= max(1, 10% of exact), 5x the 2%
    # configured rsd) and emits the exact distinct for the value oracle.
    from irstats2_spark import catalog

    q = catalog.queries()
    sf = "/root/testdata/sf0.01"
    exact = {
        r.day: r.unique_users
        for r in q["events_unique_visitors"](spark, sf).collect()
    }
    rows = q["events_unique_visitors_approx"](spark, sf).collect()
    assert {r.day for r in rows} == set(exact)
    for r in rows:
        assert r.exact_unique_users == exact[r.day], r
        assert r.approx_ok, r


def test_asof_matches_pandas_merge_asof_random(spark):
    # independent oracle: pandas merge_asof (backward) over 600 random
    # events with deliberate timestamp collisions within and across keys
    import numpy as np
    import pandas as pd

    from irstats2_spark.pipeline.asof import asof_join_prior

    rng = np.random.default_rng(7)

    def mk(n, id0):
        return pd.DataFrame(
            {
                "event_id": np.arange(id0, id0 + n, dtype=np.int64),
                "user_id": rng.integers(0, 12, n).astype(np.int64),
                "sec": rng.integers(0, 500, n).astype(np.int64),
            }
        )

    lpdf, rpdf = mk(300, 0), mk(300, 10_000)
    to_df = lambda pdf: spark.createDataFrame(pdf).select(  # noqa: E731
        "event_id", "user_id", F.timestamp_seconds("sec").alias("ts")
    )
    for inclusive in (True, False):
        got = {
            r.event_id: (r.asof.event_id if r.asof else None)
            for r in asof_join_prior(
                to_df(lpdf),
                to_df(rpdf),
                on=["user_id"],
                payload=("event_id",),
                inclusive=inclusive,
            ).collect()
        }
        # stable sort by (sec, event_id): among equal-ts right rows
        # merge_asof keeps the LAST, matching the max-tiebreak contract
        merged = pd.merge_asof(
            lpdf.sort_values(["sec", "event_id"], kind="stable"),
            rpdf.sort_values(["sec", "event_id"], kind="stable"),
            on="sec",
            by="user_id",
            allow_exact_matches=inclusive,
            suffixes=("", "_r"),
        )
        want = {
            int(row.event_id): (None if pd.isna(row.event_id_r) else int(row.event_id_r))
            for row in merged.itertuples()
        }
        assert got == want, inclusive


def test_sessionize_matches_sequential_oracle_random(spark):
    import numpy as np

    from irstats2_spark.pipeline.sessions import sessionize

    rng = np.random.default_rng(11)
    rows = [
        (int(i), int(rng.integers(0, 8)), int(rng.integers(0, 40_000)))
        for i in range(400)
    ]
    gap = 3600

    # sequential fold per user over (sec, event_id) order
    want = {}
    per_user: dict[int, list] = {}
    for eid, uid, sec in sorted(rows, key=lambda r: (r[1], r[2], r[0])):
        per_user.setdefault(uid, []).append((sec, eid))
    for uid, evs in per_user.items():
        n = 0
        prev = None
        for sec, eid in evs:
            if prev is None or sec - prev > gap:
                n += 1
            want[eid] = n
            prev = sec
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, sec long"
    ).select("event_id", "user_id", F.timestamp_seconds("sec").alias("ts"))
    got = {
        r.event_id: r.session_no
        for r in sessionize(df, gap_seconds=gap).collect()
    }
    assert got == want


def test_lsh_max_bucket_size_drops_mass_collisions(spark):
    from irstats2_spark.pipeline.dedup import minhash_lsh_candidates

    # 5 identical docs (one LSH bucket of 5) + 1 unrelated doc
    rows = [(i, "the same boilerplate text repeated here") for i in range(5)]
    rows.append((99, "something else entirely unrelated words"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = minhash_lsh_candidates(df)
    assert full.count() == 10  # C(5,2) pairs
    capped = minhash_lsh_candidates(df, max_bucket_size=4)
    assert capped.count() == 0  # the size-5 bucket is dropped


def test_ivf_assign_gemm_parity(spark):
    """The Arrow-batched GEMM assignment must be bit-identical to the
    JVM fold (quantized-int scoring + first-max/lowest-id tie-break)."""
    from irstats2_spark.pipeline.similarity import ivf_assign_gemm
    from irstats2_spark.sources.testdata import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    cents = emb.filter(F.col("vec_id") < 7).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    cols = ["vec_id", "centroid_id", "centroid_cosine"]
    a = sorted(map(tuple, ivf_assign(emb, cents).select(*cols).collect()))
    b = sorted(map(tuple, ivf_assign_gemm(emb, cents).select(*cols).collect()))
    assert a == b and len(a) > 0


def test_decontaminate_drops_leaky_docs_keeps_short_ones(spark):
    """contamination: a doc embedding a benchmark passage scores high and
    is dropped at tau; clean docs survive; docs too short to shingle are
    kept (they cannot leak a k-gram)."""
    from irstats2_spark.pipeline.contamination import (
        contamination_scores,
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(100, "the secret eval answer is forty two exactly")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "the secret eval answer is forty two exactly word for word"),
            (2, "completely unrelated clean training document text here"),
            (3, "tiny doc"),  # < k words: no shingles
        ],
        "doc_id long, text string",
    )
    scores = {r.doc_id: r for r in contamination_scores(docs, bench, k=3).collect()}
    assert scores[1].contamination_frac > 0.5
    assert scores[2].n_contaminated == 0
    # unshingleable docs emit the documented (0, 0, 0.0) row — the
    # decision predicate downstream needs every doc
    assert scores[3].n_shingles == 0
    assert scores[3].n_contaminated == 0
    assert scores[3].contamination_frac == 0.0
    kept = sorted(r.doc_id for r in decontaminate(docs, bench, tau=0.1).collect())
    assert kept == [2, 3]


def test_pack_sequences_matches_single_window_and_budget(spark):
    """pack_sequences: the two-phase prefix sum must equal the one-task
    global-window form byte for byte, numbering must be contiguous from
    0, and no sequence of small rows exceeds the budget."""
    from pyspark.sql import Window

    from irstats2_spark.pipeline.sampling import pack_sequences

    df = spark.range(0, 2_000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97 + 1).cast("int").alias("sz")
    )
    packed = pack_sequences(df, F.col("sz"), "doc_id", budget=256)
    ordk = F.md5(F.concat(F.lit("pack:"), F.col("doc_id").cast("string")))
    w = Window.orderBy(ordk, "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = df.withColumn(
        "seq_id", F.floor((F.sum("sz").over(w) - F.col("sz")) / F.lit(256)).cast("long")
    )
    assert sorted(map(tuple, packed.select("doc_id", "seq_id").collect())) == sorted(
        map(tuple, naive.select("doc_id", "seq_id").collect())
    )
    per_seq = packed.groupBy("seq_id").agg(F.sum("sz").alias("tot")).collect()
    seq_ids = sorted(r.seq_id for r in per_seq)
    assert seq_ids == list(range(len(seq_ids)))
    # max row size is 97 < budget, so no packed sequence can overshoot by
    # more than one trailing row's worth
    assert max(r.tot for r in per_seq) < 256 + 97


def test_repetition_features_flags_loops_not_natural_text(spark):
    """Gopher-style repetition: a looping/templated doc scores high dup
    fractions, varied text scores 0, short docs score 0 by convention."""
    from irstats2_spark.pipeline.textstats import repetition_features

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),
            (2, "each word appears exactly once here"),
            (3, "hi"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_features(docs).collect()}
    assert rows[1].dup_bigram_frac == 0.8  # 5 instances, 1 distinct
    assert rows[1].dup_trigram_frac == 0.75
    assert rows[2].dup_bigram_frac == 0.0 and rows[2].dup_trigram_frac == 0.0
    assert rows[3].dup_bigram_frac == 0.0  # too short for any 2-gram


def test_sample_by_rates_monotone_and_drops_unlisted(spark):
    """sample_by_rates: raising a stratum's rate only adds rows (same
    hash survival rule as the other samplers); strata without a rate row
    drop; rate 1.0 keeps everything."""
    from irstats2_spark.pipeline.sampling import sample_by_rates

    df = spark.range(0, 3_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
    )
    rates = lambda a, b: spark.createDataFrame(  # noqa: E731
        [("s0", a), ("s1", b)], "source string, rate double"
    )
    low = sample_by_rates(df, rates(0.2, 1.0), "source", "doc_id")
    high = sample_by_rates(df, rates(0.6, 1.0), "source", "doc_id")
    low_ids = {r.doc_id for r in low.collect()}
    high_ids = {r.doc_id for r in high.collect()}
    assert low_ids <= high_ids  # monotone under rate growth
    assert not any(r.source == "s2" for r in high.collect())  # unlisted drops
    assert high.filter(F.col("source") == "s1").count() == 1000  # rate 1 keeps all


def test_embed_stub_normalized_deterministic_and_chains_into_ann(spark):
    """embed_text_stub: unit norm per doc, identical across runs, and its
    vectors feed ivf_assign through embedded_as_vectors (full text ->
    embed -> ANN chain)."""
    from irstats2_spark.pipeline.embed import embed_text_stub, embedded_as_vectors

    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string"
    )
    a = sorted(map(tuple, embed_text_stub(docs, dim=8).collect()))
    b = sorted(map(tuple, embed_text_stub(docs, dim=8).collect()))
    assert a == b and len(a) == 3 * 8
    vecs = embedded_as_vectors(embed_text_stub(docs, dim=8))
    rows = {r.vec_id: r.embedding for r in vecs.collect()}
    assert rows[1] == rows[3]  # same text -> same vector
    assert abs(sum(v * v for v in rows[1]) - 1.0) < 1e-4  # unit norm
    cents = vecs.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    assigned = ivf_assign(vecs, cents)
    got = {r.vec_id: r.centroid_id for r in assigned.collect()}
    assert got[3] == 1  # identical text lands on its twin's centroid


def test_embed_stub_batch_boundaries_do_not_change_output(spark):
    """model_batch_rows re-slices the Arrow stream to the model's
    forward-batch size; output must be identical for ANY slicing (1-row
    micro-batches, an uneven 7, and the unsliced default) — the contract
    that lets a GPU deployment tune batch size freely."""
    from irstats2_spark.pipeline.embed import embed_text_stub

    docs = spark.createDataFrame(
        [(i, f"doc number {i} text") for i in range(23)], "doc_id long, text string"
    ).coalesce(1)  # one Arrow stream so slicing is actually exercised
    base = sorted(map(tuple, embed_text_stub(docs, dim=8).collect()))
    for nrows in (1, 7, 100):
        got = sorted(
            map(tuple, embed_text_stub(docs, dim=8, model_batch_rows=nrows).collect())
        )
        assert got == base


def test_float32_quantize_gemm_bit_identical_wide_dims(spark, tmp_path):
    """The ANN family's precision contract, pinned at a realistic width:
    vectors are STORED float32 (the embeddings table / embedded_as_vectors
    are array<float>) while every scoring path quantizes through float64.
    For dim=1024 this asserts, on the same parquet bits:

    1. quantization parity — Spark ``quantize``, the numpy GEMM paths'
       ``floor(x*1000+0.5)``, and DuckDB's ``_Q`` fragment produce the
       SAME integers from the float32 storage;
    2. float64 GEMM over those integers is EXACT — bit-identical to
       arbitrary-precision integer dot products (max |partial sum| ~1e9
       at scale 1000 x dim 1024, far under 2^53);
    3. the one double division at the end (cosine, 6dp) is bit-identical
       between the Spark fold and DuckDB SQL."""
    import duckdb
    import numpy as np

    from irstats2_spark.pipeline.similarity import cosine_pre_quantized, quantize
    from irstats2_spark.queries_pipeline import _qcos

    rng = np.random.default_rng(7)
    n, dim = 8, 1024
    v = rng.uniform(-1, 1, size=(n, dim))
    v32 = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)

    rows = [(i, [float(x) for x in v32[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pq = str(tmp_path / "vecs_parquet")
    df.coalesce(1).write.parquet(pq)
    df2 = spark.read.parquet(pq)

    # 1. quantization parity (Spark vs the numpy idiom the GEMMs use)
    q_np = np.floor(v32.astype(np.float64) * 1000 + 0.5).astype(np.int64)
    got = {
        r.vec_id: r.q
        for r in df2.select(
            "vec_id", quantize(F.col("embedding")).alias("q")
        ).collect()
    }
    for i in range(n):
        assert got[i] == list(q_np[i])

    # 2. float64 GEMM == arbitrary-precision integer math, with headroom
    dots64 = q_np.astype(np.float64) @ q_np.astype(np.float64).T
    for i in range(n):
        for j in range(n):
            exact = sum(int(a) * int(b) for a, b in zip(q_np[i], q_np[j]))
            assert dots64[i, j] == float(exact)
    assert np.abs(dots64).max() < 2**53

    # 3. cosine at 6dp: Spark fold == DuckDB SQL on the same parquet
    pairs = df2.alias("a").crossJoin(df2.alias("b")).filter(
        F.col("a.vec_id") < F.col("b.vec_id")
    )
    sp = {
        (r.i, r.j): r.c
        for r in pairs.select(
            F.col("a.vec_id").alias("i"),
            F.col("b.vec_id").alias("j"),
            F.round(
                cosine_pre_quantized(
                    quantize(F.col("a.embedding")), quantize(F.col("b.embedding"))
                ),
                6,
            ).alias("c"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW v AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    ora = con.execute(
        f"""SELECT a.vec_id AS i, b.vec_id AS j,
                   ROUND({_qcos("a.embedding", "b.embedding")}, 6) AS c
            FROM v a JOIN v b ON a.vec_id < b.vec_id"""
    ).fetchall()
    assert len(ora) == n * (n - 1) // 2
    for i, j, c in ora:
        assert sp[(i, j)] == c


def test_pq_fit_encode_adc_integer_exact(spark):
    """PQ family against an independent Python integer-math oracle:
    fit is deterministic; encode's (code, dist) is the true argmin of
    exact squared-L2 over the requantized codebook; ADC distances are
    exactly the sum of per-subspace table lookups (recomputed from the
    collected codebook with arbitrary-precision ints)."""
    import math

    from irstats2_spark.pipeline.pq import pq_encode, pq_fit, pq_topk_adc

    dim, m, n_codes = 4, 2, 2
    vecs = [
        (0, [0.0, 0.0, 1.0, 1.0]),
        (1, [1.0, 1.0, 0.0, 0.0]),
        (2, [0.1, 0.0, 1.0, 0.9]),
        (3, [0.9, 1.0, 0.1, 0.0]),
        (4, [0.0, 0.1, 0.9, 1.0]),
        (5, [1.0, 0.9, 0.0, 0.1]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")

    fit1 = sorted(map(tuple, pq_fit(df, dim, m, n_codes, max_iter=2).collect()))
    fit2 = sorted(map(tuple, pq_fit(df, dim, m, n_codes, max_iter=2).collect()))
    assert fit1 == fit2 and len(fit1) == m * n_codes * (dim // m)

    # rebuild the requantized codebook the way _codebook_qarrays does
    cb = pq_fit(df, dim, m, n_codes, max_iter=2)
    cbq = {}  # (subspace, code) -> [int]
    for r in cb.collect():
        cbq.setdefault((r.subspace, r.code), {})[r.dim] = int(
            math.floor(r.value * 1000 + 0.5)
        )
    cbq = {k: [v[i] for i in sorted(v)] for k, v in cbq.items()}

    def q(xs):  # float32 storage -> quantized ints, matching `quantize`
        import numpy as np

        return [
            int(math.floor(float(np.float32(x)) * 1000 + 0.5)) for x in xs
        ]

    def l2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    sub_dim = dim // m
    subs = {
        (vid, j): q(v)[j * sub_dim : (j + 1) * sub_dim]
        for vid, v in vecs
        for j in range(m)
    }

    enc = pq_encode(df, cb, dim, m)
    for r in enc.collect():
        dists = {
            c: l2(subs[(r.vec_id, r.subspace)], cbq[(r.subspace, c)])
            for c in range(n_codes)
        }
        want_code = min(dists, key=lambda c: (dists[c], c))
        assert (r.code, r.dist) == (want_code, dists[want_code])

    queries = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    topk = pq_topk_adc(
        enc.select("vec_id", "subspace", "code"), cb, queries, dim, m, n_codes, k=3
    )
    enc_codes = {(r.vec_id, r.subspace): r.code for r in enc.collect()}
    got = {(r.query_id, r.vec_id): r.adc_dist for r in topk.collect()}
    for (qid, vid), adc in got.items():
        want = sum(
            l2(subs[(qid, j)], cbq[(j, enc_codes[(vid, j)])]) for j in range(m)
        )
        assert adc == want
    # the query's own vector reconstructs best: rank 1 is itself
    ranks = {(r.query_id, r.rank): r.vec_id for r in topk.collect()}
    assert ranks[(0, 1)] == 0 and ranks[(1, 1)] == 1


def test_scalar_quantize_codes_and_error_bounds(spark):
    """int8 scalar quantization: codes stay in [0, 255], a constant
    dimension codes to 0, and every dimension's max reconstruction error
    respects the half-quantum bound (vmax-vmin)/255/2 (+ the nanos
    rounding slack the stats path introduces)."""
    from irstats2_spark.pipeline.pq import (
        scalar_quant_ranges,
        scalar_quant_stats,
        scalar_quantize,
    )

    vecs = [
        (0, [0.0, -1.0, 5.0, 0.25]),
        (1, [1.0, 1.0, 5.0, 0.5]),
        (2, [0.5, 0.0, 5.0, 0.75]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    rng = scalar_quant_ranges(df)
    got_rng = {r.dim: (r.vmin, r.vmax) for r in rng.collect()}
    assert got_rng[0] == (0.0, 1.0) and got_rng[2] == (5.0, 5.0)

    codes = {r.vec_id: r.codes for r in scalar_quantize(df, rng).collect()}
    assert codes[0] == [0, 0, 0, 0]  # mins (and the constant dim) -> 0
    assert codes[1][0] == 255 and codes[1][1] == 255  # maxes -> full scale
    assert all(0 <= c <= 255 for cs in codes.values() for c in cs)

    stats = {r.dim: r for r in scalar_quant_stats(df).collect()}
    assert stats[2].max_abs_err == 0.0  # constant dim reconstructs exactly
    for d, row in stats.items():
        half_quantum = (got_rng[d][1] - got_rng[d][0]) / 255 / 2
        assert row.max_abs_err <= half_quantum + 1e-6
        assert row.mean_abs_err <= row.max_abs_err


def test_bloom_prefilter_no_false_negatives_and_deterministic_fps(spark):
    """Bloom prefilter: every snapshot member probes maybe_seen=true
    (the no-false-negative guarantee), and the full result — including
    false positives at a deliberately tiny m — matches an independent
    Python replay of the salted-md5 bitmap."""
    import hashlib

    from irstats2_spark.pipeline.dedup import bloom_build, bloom_probe

    m_bits, k = 256, 3
    snap_hashes = [hashlib.md5(f"old{i}".encode()).hexdigest() for i in range(40)]
    new_hashes = [hashlib.md5(f"new{i}".encode()).hexdigest() for i in range(60)]

    snap = spark.createDataFrame([(h,) for h in snap_hashes], "text_hash string")
    bloom = bloom_build(snap, n_hashes=k, m_bits=m_bits)
    # probe both the members themselves and fresh keys
    batch = spark.createDataFrame(
        [(i, h) for i, h in enumerate(snap_hashes + new_hashes)],
        "doc_id long, text_hash string",
    )
    got = {
        r.text_hash: r.maybe_seen
        for r in bloom_probe(batch, bloom, n_hashes=k, m_bits=m_bits).collect()
    }

    def positions(h):
        return [
            int(hashlib.md5(f"{i}:{h}".encode()).hexdigest()[:8], 16) % m_bits
            for i in range(k)
        ]

    bits = set()
    for h in snap_hashes:
        bits.update(positions(h))
    want = {
        h: all(p in bits for p in positions(h)) for h in snap_hashes + new_hashes
    }
    assert got == want
    assert all(got[h] for h in snap_hashes)  # no false negatives, ever
    fps = [h for h in new_hashes if got[h]]
    assert fps, "tiny m should force at least one false positive"
    assert len(fps) < len(new_hashes)  # and the filter still filters


def test_source_stats_bills_cross_source_dups_to_non_keeper(spark):
    """source_stats: a duplicate shared across sources counts against
    the source holding the NON-keeper instance (who curate_corpus would
    drop); quality failures and integer-exact ratios come out per
    source."""
    from irstats2_spark.pipeline.curate import source_stats

    long_text = "the quick brown fox jumps over the lazy dog again"
    docs = spark.createDataFrame(
        [
            (1, long_text, "a"),  # keeper of the cross-source dup
            (2, long_text, "b"),  # dup, billed to b
            (3, "unique words entirely different content here", "b"),
            (4, "tiny", "b"),  # quality fail: < 5 tokens
            (5, "the and of to in is a the and of", "a"),  # stopword fail
        ],
        "doc_id long, text string, source string",
    )
    got = {r.source: r for r in source_stats(docs).collect()}
    assert got["a"].n_docs == 2 and got["a"].n_dups == 0
    assert got["a"].n_quality_fail == 1  # the all-stopword doc
    assert got["b"].n_docs == 3 and got["b"].n_dups == 1
    assert got["b"].n_quality_fail == 1  # the 1-token doc
    assert got["b"].dup_rate == round(1 / 3, 6)
    assert got["a"].total_tokens == 10 + 10  # both a-docs have 10 tokens


def test_ivfpq_residuals_exact_and_search_respects_probes(spark):
    """IVF-PQ: residuals are exact integer differences of the quantized
    vector and its assigned centroid; search only returns vectors whose
    coarse cluster is among the query's probes; self-queries reconstruct
    best (rank 1 = self) on well-separated clusters."""
    import math

    import numpy as np

    from irstats2_spark.pipeline.pq import ivfpq_residuals, ivfpq_topk
    from irstats2_spark.pipeline.similarity import ivf_assign

    rng = np.random.default_rng(11)
    # two tight clusters around orthogonal anchors
    anchors = np.zeros((2, 8))
    anchors[0, 0] = 1.0
    anchors[1, 4] = 1.0
    vecs = []
    for i in range(10):
        v = anchors[i % 2] + rng.normal(0, 0.02, 8)
        v = v / np.linalg.norm(v)
        vecs.append((i, [float(np.float32(x)) for x in v]))
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cents = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )

    assigned = ivf_assign(df, cents)
    res = ivfpq_residuals(assigned, cents)
    cent_q = {
        r.centroid_id: [int(math.floor(float(np.float32(x)) * 1000 + 0.5)) for x in r.centroid_vec]
        for r in cents.collect()
    }
    emb_q = {
        i: [int(math.floor(float(np.float32(x)) * 1000 + 0.5)) for x in v]
        for i, v in vecs
    }
    asg = {r.vec_id: r.centroid_id for r in assigned.collect()}
    for r in res.collect():
        want = [a - b for a, b in zip(emb_q[r.vec_id], cent_q[asg[r.vec_id]])]
        assert r.resid == want

    queries = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    topk = ivfpq_topk(
        df, cents, queries, dim=8, m=4, n_codes=2, k=3, n_probe=1
    ).collect()
    # with n_probe=1 every hit's cluster equals the query's own cluster
    for r in topk:
        assert asg[r.vec_id] == asg[r.query_id]
        assert r.adc_dist >= 0
    ranks = {(r.query_id, r.rank): r.vec_id for r in topk}
    for qid in range(4):
        assert ranks[(qid, 1)] == qid  # self reconstructs best


def test_pq_encode_vec_parity_with_exploded_encoder(spark):
    """pq_encode_vec (map-side nested-codebook array_min, the stored-
    codes writer) must pick code-for-code what the exploded pq_encode
    picks, including its (dist ASC, code ASC) tie-break."""
    from irstats2_spark.pipeline.pq import pq_encode, pq_encode_vec, pq_fit

    vecs = [
        (i, [float((i * 7 + j * 3) % 5) / 5 for j in range(8)]) for i in range(20)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cb = pq_fit(df, dim=8, m=4, n_codes=3, max_iter=2)
    want = {}
    for r in pq_encode(df, cb, dim=8, m=4).collect():
        want.setdefault(r.vec_id, {})[r.subspace] = r.code
    want = {k: [v[j] for j in range(4)] for k, v in want.items()}
    got = {r.vec_id: r.codes for r in pq_encode_vec(df, cb, dim=8, m=4).collect()}
    assert got == want


def test_pq_edge_cases(spark):
    """PQ edges: more codewords than vectors (codebook just has fewer
    seeds — fit still converges and encodes), m=1 (PQ degenerates to
    plain vector quantization), and an empty corpus fits an empty
    codebook and encodes nothing rather than erroring."""
    from irstats2_spark.pipeline.pq import pq_encode, pq_encode_vec, pq_fit

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0])], "vec_id long, embedding array<float>"
    )
    # n_codes > |corpus|: only 2 seeds exist -> 2 codewords, not 5
    cb = pq_fit(df, dim=2, m=1, n_codes=5, max_iter=2)
    assert {r.code for r in cb.collect()} == {0, 1}
    enc = pq_encode(df, cb, dim=2, m=1).collect()
    assert {(r.vec_id, r.code) for r in enc} == {(0, 0), (1, 1)}
    assert all(r.dist == 0 for r in enc)  # each vector IS its codeword

    # m=1: code arrays are length 1 and match the exploded encoder
    codes = {r.vec_id: r.codes for r in pq_encode_vec(df, cb, dim=2, m=1).collect()}
    assert codes == {0: [0], 1: [1]}

    empty = df.filter(F.col("vec_id") < 0)
    cb_e = pq_fit(empty, dim=2, m=1, n_codes=2, max_iter=1)
    assert cb_e.count() == 0
    assert pq_encode(df, cb_e, dim=2, m=1).count() == 0  # empty codebook


def test_contrastive_pairs_semantics(spark):
    """contrastive_pairs invariants: the positive is the nearest
    NON-SELF neighbor (twin text beats everything), negatives never
    overlap the exclusion top-N or the query itself, counts are exact,
    and a different salt draws a different (but equally valid) negative
    set."""
    import numpy as np

    from irstats2_spark.pipeline.similarity import brute_force_topk, contrastive_pairs

    rng = np.random.default_rng(5)
    base = rng.normal(0, 1, 8)
    vecs = [(0, base), (1, base * 1.001)]  # 1 is 0's obvious twin
    for i in range(2, 30):
        vecs.append((i, rng.normal(0, 1, 8)))
    rows = [
        (i, [float(np.float32(x)) for x in (v / np.linalg.norm(v))])
        for i, v in vecs
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = contrastive_pairs(df, queries, k_pos=1, n_neg=4, topn_excl=5).collect()
    pos = {r.query_id: r.vec_id for r in out if r.role == "pos"}
    assert pos == {0: 1, 1: 0}  # twins pick each other, never self
    top5 = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(df, queries, k=5).collect()
    }
    negs = {}
    for r in out:
        if r.role == "neg":
            assert (r.query_id, r.vec_id) not in top5
            assert r.vec_id != r.query_id
            negs.setdefault(r.query_id, set()).add(r.vec_id)
    assert all(len(v) == 4 for v in negs.values())

    out2 = contrastive_pairs(
        df, queries, k_pos=1, n_neg=4, topn_excl=5, salt="other:"
    ).collect()
    negs2 = {
        r.query_id: {r2.vec_id for r2 in out2 if r2.role == "neg" and r2.query_id == r.query_id}
        for r in out2
    }
    assert negs2 != negs  # independent draw under a new salt


def test_classifier_votes_hand_computed(spark):
    """Vote classifier on a hand-computable fixture: tokens vote by
    cross-multiplied class counts (no floats), unseen tokens abstain,
    ties label 'tie'."""
    from irstats2_spark.pipeline.textstats import classifier_vote_scores

    pos = spark.createDataFrame(
        [(100, "good good nice")], "doc_id long, text string"
    )
    neg = spark.createDataFrame([(200, "bad awful")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [
            (1, "good bad unseen"),  # +1 -1 0 -> tie
            (2, "good nice"),  # +1 +1 -> pos
            (3, "awful awful"),  # -1 -1 -> neg
            (4, "unseen words only"),  # all abstain -> tie
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in classifier_vote_scores(docs, pos, neg).collect()}
    assert got[1].label == "tie" and got[1].vote_margin == 0
    assert got[1].n_pos_votes == 1 and got[1].n_neg_votes == 1
    assert got[2].label == "pos" and got[2].vote_margin == 2
    assert got[3].label == "neg" and got[3].vote_margin == -2
    assert got[4].label == "tie" and got[4].n_votes == 3


def test_pq_blocking_recall_vs_allpairs(spark):
    """PQ-code blocking vs the exact all-pairs baseline at the same
    threshold on real testdata: bands=8 (one subspace per band) recovers
    EVERY exact pair here, bands=4 strictly fewer — the recall knob —
    and every reported pair is a true positive with the same 6dp
    cosine the baseline computes."""
    from irstats2_spark.pipeline.dedup import (
        embedding_cosine_dups,
        embedding_dups_pq_blocking,
    )
    from irstats2_spark.pipeline.pq import pq_fit
    from irstats2_spark.sources.testdata import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    cb = pq_fit(emb, dim=64, m=8, n_codes=4, max_iter=2)
    exact = {
        (r.doc_a, r.doc_b): r.cosine
        for r in embedding_cosine_dups(emb, threshold=0.45).collect()
    }
    b8 = {
        (r.doc_a, r.doc_b): r.cosine
        for r in embedding_dups_pq_blocking(
            emb, cb, dim=64, m=8, n_codes=4, bands=8, threshold=0.45
        ).collect()
    }
    assert set(b8) <= set(exact)  # no false positives, ever
    assert b8 == {p: exact[p] for p in b8}  # identical verified scores
    b4 = {
        (r.doc_a, r.doc_b)
        for r in embedding_dups_pq_blocking(
            emb, cb, dim=64, m=8, n_codes=4, bands=4, threshold=0.45
        ).collect()
    }
    assert b4 <= set(b8)  # coarser bands only lose candidates


def test_top_fraction_binned_matches_global_rank_size_and_upper_set(spark):
    """top_fraction_binned keeps exactly floor(frac*N) rows like the
    global-rank top_fraction; rows strictly above the boundary score
    agree between the two, and only the boundary bin's tie-break
    differs (hash draw vs key order)."""
    from irstats2_spark.pipeline.sampling import top_fraction, top_fraction_binned

    df = spark.createDataFrame(
        [(i, (i * 7) % 5) for i in range(1000)], "doc_id long, score long"
    )
    a = top_fraction(df, "score", 0.3, "doc_id")
    b = top_fraction_binned(df, "score", 0.3, "doc_id")
    sa = {r.doc_id for r in a.collect()}
    sb = {r.doc_id for r in b.collect()}
    assert len(sa) == len(sb) == 300
    boundary = min(r.score for r in a.select("score").collect())
    above = {r.doc_id for r in df.filter(F.col("score") > boundary).collect()}
    assert above <= sa and above <= sb
    # both fill the boundary bin and never dip below it
    assert all(r.score >= boundary for r in b.select("score").collect())


def test_top_fraction_approx_exact_size_and_bounded_boundary_error(spark):
    """The continuous-score two-phase cut keeps EXACTLY floor(frac*N)
    rows; every kept score is within one bin width of the exact form's
    cutoff; rows strictly above the boundary bin agree with the exact
    form; and a constant column degenerates to the pure hash draw."""
    from irstats2_spark.pipeline.sampling import (
        top_fraction,
        top_fraction_approx,
    )

    # continuous scores: irrational-ish spacing, two interleaved scales
    rows = [(i, (i * 0.7310585) % 97.3 + (i % 3) * 31.7) for i in range(900)]
    df = spark.createDataFrame(rows, "doc_id long, score double")
    exact = {r.doc_id: r.score for r in
             top_fraction(df, "score", 0.4, "doc_id").collect()}
    approx = {r.doc_id: r.score for r in
              top_fraction_approx(df, "score", 0.4, "doc_id", n_bins=32).collect()}
    assert len(exact) == len(approx) == 360  # exact output size
    lo = min(r[1] for r in rows)
    hi = max(r[1] for r in rows)
    width = (hi - lo) / 32
    cutoff = min(exact.values())
    assert all(s >= cutoff - width for s in approx.values())  # bounded err
    # rows above the boundary BIN are bit-identical between forms
    boundary_bin_lo = lo + width * int((cutoff - lo) / width)
    surely_kept = {d for d, s in exact.items() if s >= boundary_bin_lo + width}
    assert surely_kept <= set(approx)
    # constant scores: one bin, pure deterministic hash draw, exact size
    const = spark.createDataFrame(
        [(i, 5.0) for i in range(100)], "doc_id long, score double"
    )
    got = top_fraction_approx(const, "score", 0.25, "doc_id", n_bins=8)
    assert got.count() == 25
    again = top_fraction_approx(const, "score", 0.25, "doc_id", n_bins=8)
    assert {r.doc_id for r in got.collect()} == {r.doc_id for r in again.collect()}


def test_score_calibration_window_and_binned_agree(spark):
    """The binned per-source percentile must be BIT-identical to the
    percent_rank window form on adversarial shapes: heavy ties, a
    single-row source (pctl 0.0), a two-row source, and a constant
    source (all ties -> all 0.0); hand-checked values pin the min-rank
    tie convention."""
    from irstats2_spark.pipeline.sampling import (
        calibrate_scores_by_source,
        calibrate_scores_by_source_binned,
    )

    rows = (
        [(i, "web", (i * 3) % 7) for i in range(200)]
        + [(1000, "single", 42)]
        + [(1100, "pair", 1), (1101, "pair", 2)]
        + [(1200 + i, "const", 5) for i in range(10)]
        # NULL scores (and a NULL source): the window form keeps them
        # (asc = NULLS FIRST -> lowest pctl); the binned form must too
        # (r10 ADVICE: a plain equi-join silently dropped them)
        + [(1300, "web", None), (1301, "web", None)]
        + [(1400, None, 1), (1401, None, 2), (1402, None, None)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, score long")
    win = {
        r.doc_id: r.score_pctl
        for r in calibrate_scores_by_source(df, "score").collect()
    }
    binned = {
        r.doc_id: r.score_pctl
        for r in calibrate_scores_by_source_binned(df, "score").collect()
    }
    assert set(win) == set(binned) == {r[0] for r in rows}  # nothing dropped
    assert win == binned  # exact equality, no rounding
    assert win[1000] == 0.0  # single-row source
    assert win[1100] == 0.0 and win[1101] == 1.0  # two-row source
    assert all(win[1200 + i] == 0.0 for i in range(10))  # all-ties source
    assert win[1300] == win[1301] == 0.0  # NULL scores sort first
    assert win[1402] == 0.0 and win[1401] == 1.0  # NULL source is a group
    # min-rank ties: every web row scoring 0 shares ONE percentile — the
    # two NULL-score rows occupy web's lowest ranks, so score 0's min
    # rank is 3 of 202 -> pctl (3-1)/(202-1)
    zero_web = [win[i] for i in range(200) if (i * 3) % 7 == 0]
    assert set(zero_web) == {2.0 / 201.0}


def test_score_calibration_merge_law_and_incremental_equals_batch(spark):
    """The histogram is a mergeable sufficient statistic: hist(A) ⊕
    hist(B) == hist(A ∪ B) exactly (counts add), folds are order-
    insensitive, and applying a merged histogram is bit-identical to
    the batch binned form — including NULL score bins."""
    from irstats2_spark.pipeline.sampling import (
        calibrate_scores_apply,
        calibrate_scores_by_source_binned,
        calibrate_scores_merge,
        score_histogram,
    )

    rows = [
        (i, ["web", "wiki", None][i % 3], [0, 1, 2, None][i % 4])
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, score long")
    a = df.filter(F.col("doc_id") % 3 == 0)
    b = df.filter((F.col("doc_id") % 3 == 1))
    c = df.filter((F.col("doc_id") % 3 == 2))

    def hkey(r):
        return (r.source, r.score)

    full = {hkey(r): r.hist_n for r in score_histogram(df, "score").collect()}
    merged_ab_c = calibrate_scores_merge(
        calibrate_scores_merge(
            score_histogram(a, "score"), score_histogram(b, "score")
        ),
        score_histogram(c, "score"),
    )
    merged_c_ba = calibrate_scores_merge(
        score_histogram(c, "score"),
        calibrate_scores_merge(
            score_histogram(b, "score"), score_histogram(a, "score")
        ),
    )
    assert {hkey(r): r.hist_n for r in merged_ab_c.collect()} == full
    assert {hkey(r): r.hist_n for r in merged_c_ba.collect()} == full

    batch = {
        r.doc_id: r.score_pctl
        for r in calibrate_scores_by_source_binned(df, "score").collect()
    }
    inc = {
        r.doc_id: r.score_pctl
        for r in calibrate_scores_apply(df, merged_ab_c, "score").collect()
    }
    assert inc == batch  # exact equality, no rounding


def test_ngram_novelty_hand_computed(spark):
    """Novelty on a hand-computable fixture: all-unique shingles -> 1.0,
    an exact twin -> 0.0 for both copies, partial overlap in between,
    too-short docs emit the (0, 0, 0.0) row instead of dropping."""
    from irstats2_spark.pipeline.textstats import ngram_novelty

    docs = spark.createDataFrame(
        [
            (1, "aa bb cc dd ee"),  # shingles unique to doc 1 -> 1.0
            (2, "xx yy zz ww"),  # twin of 3 -> 0.0
            (3, "xx yy zz ww"),
            (4, "xx yy zz qq"),  # shares 'xx yy zz' with 2/3; 'yy zz qq' novel
            (5, "one two"),  # too short for 3-shingles
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in ngram_novelty(docs).collect()}
    assert got[1].novelty == 1.0 and got[1].n_shingles == 3
    assert got[2].novelty == 0.0 and got[3].novelty == 0.0
    assert got[4].n_shingles == 2 and got[4].n_novel == 1
    assert got[4].novelty == 0.5
    assert (got[5].n_shingles, got[5].n_novel, got[5].novelty) == (0, 0, 0.0)


def test_canonicalize_url_rules(spark):
    """Every canonicalization rule on one fixture each: case, default
    ports, fragments, tracking params, param order, trailing slashes,
    scheme default, and non-default ports kept."""
    from irstats2_spark.pipeline.dedup import canonicalize_url

    cases = [
        ("HTTPS://WWW.Ex.COM:443/A/B/?b=2&utm_source=x&a=1#f",
         "https://www.ex.com/A/B?a=1&b=2"),
        ("http://ex.com:80/", "http://ex.com/"),
        ("http://ex.com:8080/x", "http://ex.com:8080/x"),  # non-default kept
        ("ex.com/path/?fbclid=z", "http://ex.com/path"),  # scheme default
        ("https://ex.com", "https://ex.com/"),  # empty path -> /
        ("http://ex.com/x?utm_a=1&utm_b=2", "http://ex.com/x"),  # only tracking
        ("http://ex.com/x?id=2&id=10", "http://ex.com/x?id=10&id=2"),  # bytewise sort
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)],
                               "i long, url string")
    got = {r.i: r.c for r in df.select("i", canonicalize_url(F.col("url")).alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)


def test_pack_sequences_matches_python_oracle_random(spark):
    """Independent oracle: a sequential Python fold over md5-sorted rows
    (random sizes incl. oversized rows past the budget and ties in size)
    must reproduce pack_sequences' seq_ids exactly."""
    import hashlib

    from irstats2_spark.pipeline.sampling import pack_sequences

    rows = [(i, (i * 7919) % 613 + 1) for i in range(1_500)]
    rows += [(10_000 + i, 5_000) for i in range(5)]  # oversized singletons
    df = spark.createDataFrame(rows, "doc_id long, sz int")
    got = {
        r.doc_id: r.seq_id
        for r in pack_sequences(df, F.col("sz"), "doc_id", budget=1024).collect()
    }
    order = sorted(
        rows, key=lambda r: (hashlib.md5(f"pack:{r[0]}".encode()).hexdigest(), r[0])
    )
    cum = 0
    for doc_id, sz in order:
        expected = (cum + sz - sz) // 1024  # floor(preceding / budget)
        assert got[doc_id] == cum // 1024 == expected, doc_id
        cum += sz
    assert len(got) == len(rows)


def test_sample_by_rates_matches_python_oracle_random(spark):
    """sample_by_rates survival must equal the hash rule computed
    independently in Python for arbitrary per-stratum rates."""
    import hashlib

    from irstats2_spark.pipeline.sampling import sample_by_rates

    rows = [(i, f"s{i % 7}") for i in range(2_000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    rates = {f"s{j}": j / 7.0 for j in range(7)}
    rdf = spark.createDataFrame(list(rates.items()), "source string, rate double")
    got = {r.doc_id for r in sample_by_rates(df, rdf, "source", "doc_id").collect()}
    for doc_id, src in rows:
        b = int(hashlib.md5(f"mix:{doc_id}".encode()).hexdigest()[:8], 16) % 10_000
        assert (b < rates[src] * 10_000) == (doc_id in got), (doc_id, src)


def test_heavy_hitters_sketch_contract(spark):
    """freqItems' one-sided guarantee: every exact heavy hitter above the
    support threshold appears in the sketch (in_sketch all true)."""
    from irstats2_spark.pipeline.textstats import heavy_hitters_checked

    docs = spark.createDataFrame(
        [(i, "common common common rare" + str(i)) for i in range(50)],
        "doc_id long, text string",
    )
    out = heavy_hitters_checked(docs, support=0.5).collect()
    assert [r.word for r in out] == ["common"]
    assert all(r.in_sketch for r in out)
    assert out[0].n_occurrences == 150


def test_jsonmeta_variant_extraction_and_malformed_tolerance(spark):
    """sources.jsonmeta: heterogeneous sidecars parse into VARIANT; typed
    path extraction returns NULL (never an error) for malformed JSON,
    missing paths, and uncastable values; the fixed-schema from_json path
    agrees on the shared fields."""
    from irstats2_spark.pipeline.jsonmeta import (
        extract_meta_fields,
        with_struct_meta,
        with_variant_meta,
    )

    df = spark.createDataFrame(
        [
            (1, '{"source":{"site":"a","rank":3},"tags":["x","y"]}'),
            (2, '{"source":{"site":"b"},"extra":{"deep":true}}'),  # no rank
            (3, '{"source":{"site":"c","rank":"NaNish"}}'),  # uncastable
            (4, '{"broken":'),  # malformed
            (5, None),
        ],
        "doc_id long, sidecar string",
    )
    flat = extract_meta_fields(
        with_variant_meta(df, "sidecar"),
        {
            "site": ("$.source.site", "string"),
            "rank": ("$.source.rank", "int"),
            "tag0": ("$.tags[0]", "string"),
        },
        keep=["doc_id"],
    )
    rows = {r.doc_id: r for r in flat.collect()}
    assert (rows[1].site, rows[1].rank, rows[1].tag0) == ("a", 3, "x")
    assert (rows[2].site, rows[2].rank) == ("b", None)
    assert rows[3].rank is None  # uncastable -> NULL, job survives
    assert rows[4].site is None and rows[5].site is None

    structed = with_struct_meta(
        df, "sidecar", "source struct<site string, rank int>"
    )
    srows = {r.doc_id: r for r in structed.collect()}
    assert srows[1].meta.source.site == "a" and srows[1].meta.source.rank == 3
    assert srows[4].meta is None or srows[4].meta.source is None


def test_embedding_cosine_dups_raises_past_broadcast_budget(spark):
    """The small-corpus exact path must refuse (with a pointer to the IVF
    scale path) rather than driver-collect a corpus past max_cells."""
    import pytest

    from irstats2_spark.pipeline.dedup import embedding_cosine_dups
    from irstats2_spark.sources.testdata import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    with pytest.raises(ValueError, match="embedding_dups_ivf"):
        embedding_cosine_dups(emb, max_cells=10).count()
    # under the budget the path still works
    assert embedding_cosine_dups(emb, threshold=0.45).count() > 0


def test_ivf_assign_keeps_zero_norm_vectors(spark):
    """A zero-norm vector scores NULL cosine against every centroid; both
    assignment variants must KEEP the row (scored -2.0 — strictly below
    any real cosine, so it never ties an antipodal -1.0 — with the
    lowest centroid id) rather than silently dropping it — the
    rank-1-row semantics of the row_number/SQL form."""
    from irstats2_spark.pipeline.similarity import ivf_assign_gemm

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    cents = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0])],
        "centroid_id long, centroid_vec array<float>",
    )
    cols = ["vec_id", "centroid_id", "centroid_cosine"]
    fold = sorted(map(tuple, ivf_assign(corpus, cents).select(*cols).collect()))
    gemm = sorted(map(tuple, ivf_assign_gemm(corpus, cents).select(*cols).collect()))
    assert fold == gemm
    assert len(fold) == 3  # zero vector not dropped
    by_id = {r[0]: r for r in fold}
    assert by_id[1][1] == 10 and by_id[1][2] == -2.0


def test_ivf_assign_antipodal_beats_zero_norm_centroid(spark):
    """A genuine -1.0 cosine (antipodal centroid) must outrank a NULL
    cosine against a LOWER-id zero-norm centroid — the oracle's NULLS
    LAST ranks the real -1.0 first, so the NULL sentinel has to sit
    strictly below -1.0 (a -1.0 sentinel picked the zero-norm one)."""
    from irstats2_spark.pipeline.similarity import ivf_assign, ivf_assign_gemm

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    cents = spark.createDataFrame(
        [(1, [0.0, 0.0]), (5, [-1.0, 0.0])],
        "centroid_id long, centroid_vec array<float>",
    )
    cols = ["vec_id", "centroid_id", "centroid_cosine"]
    for impl in (ivf_assign, ivf_assign_gemm):
        row = impl(corpus, cents).select(*cols).collect()[0]
        assert (row.centroid_id, row.centroid_cosine) == (5, -1.0), impl.__name__


def test_ivf_multi_probe_recovers_cross_cluster_neighbor(spark):
    """The true nearest neighbor sits in the query's SECOND-closest
    cluster: single-probe IVF misses it, 2-probe recovers it (the
    standard recall knob). Quantized math keeps the scores exact."""
    from irstats2_spark.pipeline.similarity import ivf_probe_assign

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0]),
         (5, [0.6, 0.8, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "centroid_id long, centroid_vec array<float>",
    )
    assigned = ivf_assign(corpus, cents)
    # vec 5 lands in cluster 1 (cos .8 > .6)
    assert {r.vec_id: r.centroid_id for r in assigned.collect()}[5] == 1
    q = spark.createDataFrame(
        [(100, [0.8, 0.6, 0.0, 0.0])], "query_id long, query_vec array<float>"
    )
    top_p1 = ivf_topk(assigned, ivf_probe_assign(q, cents, n_probe=1), k=1).head()
    top_p2 = ivf_topk(assigned, ivf_probe_assign(q, cents, n_probe=2), k=1).head()
    assert top_p1.vec_id == 0 and top_p1.cosine == 0.8  # cluster-0 only
    assert top_p2.vec_id == 5 and top_p2.cosine == 0.96  # true neighbor


def test_embedding_dups_ivf_probe_recovers_boundary_pair(spark):
    """A near-dup pair whose members single-assign to DIFFERENT clusters:
    embedding_dups_ivf misses it by contract, the probe2 variant recovers
    it (members share a probed cluster), and pair-dedup keeps one row for
    a pair co-located in several shared clusters."""
    from irstats2_spark.pipeline.dedup import embedding_dups_ivf, embedding_dups_ivf_probe

    # centroids at 0deg and 45deg; 10/11 sit at 20deg/25deg — a near-dup
    # pair (cos 5deg = .996) straddling the 22.5deg cluster bisector, so
    # they single-assign to DIFFERENT clusters; 20/21 are same-cluster dups
    # near c1 (found by both paths)
    corpus = spark.createDataFrame(
        [
            (10, [0.9397, 0.342]),
            (11, [0.9063, 0.4226]),
            (20, [0.70, 0.72]),
            (21, [0.72, 0.70]),
        ],
        "vec_id long, embedding array<float>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.7071, 0.7071])],
        "centroid_id long, centroid_vec array<float>",
    )
    single = embedding_dups_ivf(corpus, cents, threshold=0.99)
    probed = embedding_dups_ivf_probe(corpus, cents, threshold=0.99, n_probe=2)
    single_pairs = {(r.doc_a, r.doc_b) for r in single.collect()}
    probed_rows = probed.collect()
    probed_pairs = {(r.doc_a, r.doc_b) for r in probed_rows}
    assert (10, 11) not in single_pairs  # split by the cluster boundary
    assert (10, 11) in probed_pairs  # recovered by the second probe
    assert single_pairs <= probed_pairs  # recall strictly widens
    assert len(probed_rows) == len(probed_pairs)  # pair-level dedup held


def test_ivf_multi_assign_probe1_matches_ivf_assign(spark):
    """p=1 multi-assign must reproduce ivf_assign exactly (same fold,
    same tie-break), and p=2 files every vector into 2 distinct clusters."""
    from irstats2_spark.pipeline.similarity import ivf_multi_assign
    from irstats2_spark.sources.testdata import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    cols = ["vec_id", "centroid_id", "centroid_cosine"]
    p1 = sorted(map(tuple, ivf_multi_assign(emb, cents, n_probe=1).select(*cols).collect()))
    base = sorted(map(tuple, ivf_assign(emb, cents).select(*cols).collect()))
    assert p1 == base
    p2 = ivf_multi_assign(emb, cents, n_probe=2)
    n = emb.count()
    assert p2.count() == 2 * n
    assert p2.select("vec_id", "centroid_id").distinct().count() == 2 * n


def test_kmeans_fit_deterministic_and_chains_into_ivf(spark):
    """kmeans_fit: deterministic across runs (seed-free init + exact
    quantized update sums), k x dim output rows, and its centroids chain
    straight into ivf_assign (fit -> assign covers every corpus vector
    with a valid cluster)."""
    from irstats2_spark.pipeline.similarity import (
        centroids_as_vectors,
        kmeans_fit,
    )
    from irstats2_spark.sources.testdata import load_table

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    f1 = sorted(map(tuple, kmeans_fit(emb, k=4, max_iter=2).collect()))
    f2 = sorted(map(tuple, kmeans_fit(emb, k=4, max_iter=2).collect()))
    assert f1 == f2
    dim = emb.head().embedding.__len__()
    assert len(f1) == 4 * dim
    cents = centroids_as_vectors(kmeans_fit(emb, k=4, max_iter=2))
    assigned = ivf_assign(emb, cents)
    assert assigned.count() == emb.count()
    assert assigned.filter(F.col("centroid_id").isNull()).count() == 0


def test_exact_dedup_incremental_composes_to_global(spark, docs):
    """Folding batches through exact_dedup_incremental must converge to
    the global dedup result: keepers(all) == keepers(old) U fresh(new)."""
    from irstats2_spark.pipeline.dedup import exact_dedup, exact_dedup_incremental

    old = docs.filter(F.col("doc_id") <= 3)
    new = docs.filter(F.col("doc_id") > 3)
    global_keepers = {
        (r.text_hash, r.keeper_id) for r in exact_dedup(docs).collect()
    }
    old_keepers = {(r.text_hash, r.keeper_id) for r in exact_dedup(old).collect()}
    fresh = {
        (r.text_hash, r.keeper_id)
        for r in exact_dedup_incremental(
            new, exact_dedup(old).select("text_hash")
        ).collect()
    }
    assert old_keepers | fresh == global_keepers
    assert old_keepers.isdisjoint(fresh)


def test_minhash_incremental_finds_cross_batch_dup(spark, docs):
    """An exact duplicate split across the snapshot/batch boundary must
    surface with estimator 1.0 (all slots match); unrelated docs don't."""
    from irstats2_spark.pipeline.dedup import (
        minhash_lsh_incremental,
        minhash_signatures,
    )

    old = docs.filter(F.col("doc_id") <= 2)   # docs 1,2 (2 == dup of 1)
    new = docs.filter(F.col("doc_id") >= 5)   # docs 5,6 (6 == case-dup of 1)
    old_sigs = minhash_signatures(word_shingles(old, "text", "doc_id", 3), 8)
    out = {
        (r.old_id, r.new_id): r.est_jaccard
        for r in minhash_lsh_incremental(new, old_sigs, threshold=0.5).collect()
    }
    assert out[(1, 6)] == 1.0 and out[(2, 6)] == 1.0  # normalized dups
    assert not any(new_id == 5 for _, new_id in out)  # unrelated doc clean


def test_pack_efficiency_accounts_every_token(spark):
    """The audit's totals must reconcile exactly with the input (no doc
    lost or double-counted), every fill ratio is used/budget, and the
    overfill contract holds: a sequence exceeds the budget by at most
    its boundary-crossing doc."""
    from irstats2_spark.pipeline.sampling import pack_efficiency, pack_sequences

    docs = spark.createDataFrame(
        [(i, 100 + (i * 37) % 400) for i in range(200)],
        "doc_id int, n_tokens int",
    )
    packed = pack_sequences(docs, F.col("n_tokens"), "doc_id", budget=1024)
    audit = pack_efficiency(packed, budget=1024).collect()
    assert sum(r.n_docs for r in audit) == 200
    total_in = sum(100 + (i * 37) % 400 for i in range(200))
    assert sum(r.used_tokens for r in audit) == total_in
    import math

    for r in audit:
        # half-up like SQL ROUND (python round() banker's-rounds .5)
        assert r.fill_ratio == math.floor(r.used_tokens / 1024.0 * 1e6 + 0.5) / 1e6
    # overfill bounded by one doc: used - budget < max doc size (499)
    assert all(r.used_tokens - 1024 < 499 for r in audit)


def test_simhash_incremental_matches_full_self_join(spark):
    """Composition law for the SimHash incremental tier: cross-batch
    pairs from incremental(new, sigs(old)) must EQUAL the full
    self-join's (old, new) pairs — same banding, same exact Hamming
    verify, so unlike the MinHash estimator there is no approximation
    gap. Hamming values included in the equality."""
    from irstats2_spark.pipeline.dedup import (
        simhash64,
        simhash_hamming_incremental,
        simhash_hamming_pairs,
    )

    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away to the hills")
    rows = [
        (1, base),
        (2, base + " tonight"),                    # near-dup of 1
        (3, "completely different text about gardening soil and seeds"),
        (10, base),                                # exact dup of 1, new batch
        (11, base + " tonight maybe"),             # near-dup-ish, new batch
        (12, "unrelated quarterly finance report with numbers"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    old = docs.filter(F.col("doc_id") < 10)
    new = docs.filter(F.col("doc_id") >= 10)

    full_cross = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_hamming_pairs(docs).collect()
        if r.doc_a < 10 <= r.doc_b
    }
    inc = {
        (r.old_id, r.new_id): r.hamming
        for r in simhash_hamming_incremental(
            new, simhash64(old)
        ).collect()
    }
    assert inc == full_cross
    assert (1, 10) in inc and inc[(1, 10)] == 0  # the exact dup, Hamming 0


def test_dsir_logweights_prefer_target_like_docs(spark):
    """DSIR: docs that look like the target domain must outscore docs
    that don't; token-less docs emit an exact-zero row."""
    from irstats2_spark.pipeline.sampling import dsir_logweights

    rows = [
        (1, "spark query engine shuffle partition"),
        (2, "spark query engine broadcast join"),
        (3, "gardening soil tomato seeds watering"),
        (4, "   "),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    target = docs.filter(F.col("doc_id").isin(1, 2))
    out = {r.doc_id: r for r in dsir_logweights(docs, target).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1].logweight > out[3].logweight
    assert out[2].logweight > out[3].logweight
    assert out[4].n_tokens == 0 and out[4].lw_micro == 0
    # integer micro-nat rollup is partitioning-independent
    out2 = {
        r.doc_id: r.lw_micro
        for r in dsir_logweights(docs.repartition(7), target).collect()
    }
    assert out2 == {k: v.lw_micro for k, v in out.items()}


def _python_bpe(word_freqs: dict, n_merges: int):
    """Clean-room sequential BPE reference (Sennrich-style): dict of
    word -> freq, greedy left-to-right merge application."""
    sym = {w: tuple(list(w) + ["</w>"]) for w in word_freqs}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for w, f in word_freqs.items():
            s = sym[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
        if not counts:
            break
        # deterministic tiebreak: max count, then lexicographically
        # smallest (left, right)
        top_n = max(counts.values())
        best = min(p for p, c in counts.items() if c == top_n)
        if counts[best] < 2:
            break
        merges.append((best[0], best[1], counts[best]))
        a, b = best
        for w in sym:
            s, out, i = sym[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            sym[w] = tuple(out)
    return merges, sym


def test_bpe_train_matches_sequential_reference(spark):
    from collections import Counter

    from irstats2_spark.pipeline.bpe import bpe_segment, bpe_train
    from irstats2_spark.pipeline.dedup import normalize_text  # noqa: F401

    texts = [
        "low low low low low lower lower",
        "newest newest newest newest newest newest",
        "widest widest widest lowest lowest",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    freqs = Counter(w for t in texts for w in t.split())
    expect_merges, expect_sym = _python_bpe(dict(freqs), 10)
    got = bpe_train(docs, n_merges=10)
    got_rows = sorted(got.collect(), key=lambda r: r.merge_rank)
    assert [(r.left_sym, r.right_sym, r.pair_count) for r in got_rows] == expect_merges
    # segmentation agrees word-for-word with the reference's final state
    seg = {r.doc_id: r for r in bpe_segment(docs, got).collect()}
    for i, t in enumerate(texts):
        expect_tokens = [tok for w in t.split() for tok in expect_sym[w]]
        assert list(seg[i].tokens) == expect_tokens, i
        assert seg[i].n_words == len(t.split())
        assert seg[i].n_tokens == len(expect_tokens)


def test_bpe_merge_is_greedy_nonoverlapping(spark):
    """'aaaa' + merge (a,a) must give [aa, aa, </w>] — a fresh merge
    output never re-merges within the same pass."""
    from irstats2_spark.pipeline.bpe import merge_pair_expr, symbolize

    df = spark.createDataFrame([("aaaa",), ("aaa",)], "word string")
    out = {
        r.word: r.m
        for r in df.select(
            "word",
            merge_pair_expr(symbolize(F.col("word")), "a", "a").alias("m"),
        ).collect()
    }
    assert out["aaaa"] == ["aa", "aa", "</w>"]
    assert out["aaa"] == ["aa", "a", "</w>"]


def test_bpe_train_is_partitioning_independent(spark):
    from irstats2_spark.pipeline.bpe import bpe_train

    docs = spark.createDataFrame(
        [(i, "spark shuffle spark merge merge merge") for i in range(6)],
        "doc_id int, text string",
    )
    a = [tuple(r) for r in bpe_train(docs, 4).collect()]
    b = [tuple(r) for r in bpe_train(docs.repartition(5), 4).collect()]
    assert a == b and len(a) == 4


def test_temperature_mix_upweights_small_strata(spark):
    from irstats2_spark.pipeline.sampling import temperature_mix_rates

    rows = [(i, "big") for i in range(400)] + [(1000 + i, "small") for i in range(16)]
    df = spark.createDataFrame(rows, "doc_id int, source string")
    rates = {
        r.stratum: r for r in temperature_mix_rates(df, "source", 0.5, 100.0).collect()
    }
    # p(big) = 20/24, p(small) = 4/24; expected kept: big 83.3, small 16.6
    assert rates["small"].rate == 1.0  # capped: expected > stratum size
    assert 0.2 < rates["big"].rate < 0.22  # 100 * (20/24) / 400
    # alpha raises small-stratum share above its 16/416 proportional share
    assert rates["small"].rate * 16 / 100.0 > 16 / 416


def test_lm_nll_prefers_reference_like_text(spark):
    """Bigram-LM scoring: reference-like docs get lower avg NLL than
    out-of-domain docs; short docs emit exact-zero rows; integer
    micro-nat sums are partitioning-independent."""
    from irstats2_spark.pipeline.textstats import lm_nll_scores

    ref_text = "the cat sat on the mat and the cat ran"
    rows = [
        (1, ref_text),
        (2, "the cat sat on the mat"),          # in-domain
        (3, "quantum flux capacitors oscillate wildly"),  # out-of-domain
        (4, "one"),                              # < 2 tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    ref = docs.filter(F.col("doc_id") == 1)
    out = {r.doc_id: r for r in lm_nll_scores(docs, ref).collect()}
    assert out[2].avg_nll < out[3].avg_nll
    assert out[4].n_bigrams == 0 and out[4].nll_micro == 0 and out[4].avg_nll == 0.0
    out2 = {
        r.doc_id: r.nll_micro
        for r in lm_nll_scores(docs.repartition(5), ref).collect()
    }
    assert out2 == {k: v.nll_micro for k, v in out.items()}


def test_containment_catches_quoted_subdocument(spark):
    """A short doc fully contained in a long one: containment 1.0 in the
    short->long direction even though Jaccard is far below threshold."""
    from irstats2_spark.pipeline.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon"
    long_ = short + " " + " ".join(f"filler{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short), (2, long_)], "doc_id int, text string"
    )
    got = {
        (r.doc_id, r.contained_in): r.containment
        for r in ngram_containment_pairs(docs, threshold=0.8).collect()
    }
    assert got == {(1, 2): 1.0}
    assert ngram_jaccard_pairs(docs, threshold=0.8).count() == 0


def test_pair_expanders_cap_hot_shingle_by_default(spark):
    """One boilerplate shingle shared by >64 docs (site chrome) must NOT
    expand into a 100^2 in-row pair array under the DEFAULT cap: pairs
    whose only shared evidence is the hot shingle disappear, pairs that
    also share rare shingles survive with the hot shingle excluded from
    n_common — exactly the uncapped result computed over the corpus with
    the boilerplate shingle deleted. max_docs_per_shingle=None restores
    the exact uncapped form (the hot-only pairs reappear)."""
    from irstats2_spark.pipeline.dedup import (
        ngram_containment_pairs,
        ngram_idf_jaccard_pairs,
        ngram_jaccard_pairs,
    )

    hot = "shared footer boilerplate"  # one 3-shingle in every doc
    rare = "alpha beta gamma delta"  # two 3-shingles, docs 0 and 1 only
    rows = [(0, f"{rare} {hot}"), (1, f"{rare} {hot}")] + [
        (i, f"unique{i}a unique{i}b unique{i}c {hot}") for i in range(2, 100)
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    # capped (default): only the rare-overlap pair survives — the hot
    # shingle's bucket is dropped BEFORE pair expansion, so the 98
    # hot-only docs produce zero pair rows (uncapped they produce
    # C(100,2) rows, 100^2 structs inside one aggregation row).
    # idf threshold 0.0: the hot shingle has idf=ln(100/100)=0, so
    # hot-only pairs score exactly 0.0 uncapped and vanish capped.
    for fn, thresh in [
        (ngram_jaccard_pairs, 0.01),
        (ngram_idf_jaccard_pairs, 0.0),
    ]:
        capped = {
            (r.doc_a, r.doc_b) for r in fn(docs, threshold=thresh).collect()
        }
        uncapped = {
            (r.doc_a, r.doc_b)
            for r in fn(
                docs, threshold=thresh, max_docs_per_shingle=None
            ).collect()
        }
        # hot-only pairs (98 docs x each other + vs 0/1) exist only uncapped
        assert (2, 3) in uncapped and (2, 3) not in capped
        assert capped == {(0, 1)}
        assert len(uncapped) == 100 * 99 // 2
    cont_capped = {
        (r.doc_id, r.contained_in)
        for r in ngram_containment_pairs(docs, threshold=0.01).collect()
    }
    assert cont_capped == {(0, 1), (1, 0)}

    # exact capped value: docs 0/1 ("alpha beta gamma delta shared footer
    # boilerplate") have 5 sliding 3-shingles each, all shared; the hot
    # one (df=100) is dropped, the two rare-hot bridge shingles (df=2)
    # are kept -> n_common = 4, sizes still 5/5 -> jaccard = 4/(5+5-4).
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.01).collect()
    }
    assert got == {(0, 1): round(4 / 6, 6)}


def test_simhash_hamming_pairs_rejects_odd_or_unit_bands(spark):
    """bands=1 used to pass the 64%bands assert then ZeroDivisionError in
    the two-half slicing; now every non-{2,4,8,16,32} count fails fast."""
    import pytest as _pytest

    from irstats2_spark.pipeline.dedup import simhash_hamming_pairs

    docs = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    for bad in (1, 3, 6):
        with _pytest.raises(AssertionError, match="bands"):
            simhash_hamming_pairs(docs, bands=bad)


def test_bpe_merge_fold_matches_reference_on_random_words(spark):
    """Property-style pin: the JVM fold and the sequential python merge
    agree on 300 random {a,b,c} words for every pair over the alphabet —
    one Spark job for the whole grid (a per-example job would be too
    slow), seeded for reproducibility."""
    import random

    from irstats2_spark.pipeline.bpe import merge_pair_expr

    rng = random.Random(0xBEEF)
    words = [
        "".join(rng.choice("abc") for _ in range(rng.randint(1, 10)))
        for _ in range(300)
    ]
    pairs = [(a, b) for a in "abc" for b in "abc"]

    def py_merge(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    df = spark.createDataFrame([(w,) for w in words], "word string")
    sym = F.split(F.col("word"), "(?!$)")  # chars, no trailing empty
    cols = [
        merge_pair_expr(sym, a, b).alias(f"m_{a}{b}") for a, b in pairs
    ]
    rows = df.select("word", *cols).collect()
    for r in rows:
        for a, b in pairs:
            assert list(r[f"m_{a}{b}"]) == py_merge(list(r.word), a, b), (
                r.word,
                a,
                b,
            )


def test_select_corpus_composition_contracts(spark):
    """select_corpus: the cut sees every doc (scorers emit 0 rows for
    token-less docs), exactly floor(frac*N) docs survive the cut before
    mixing, and survivors lean toward target-like fluent docs."""
    from irstats2_spark.pipeline.curate import select_corpus
    from irstats2_spark.pipeline.sampling import dsir_logweights, top_fraction
    from irstats2_spark.pipeline.textstats import lm_nll_scores

    rows = (
        [(i, "spark query engine shuffle join", "a") for i in range(10)]
        + [(20 + i, "gardening tomato soil seeds water", "b") for i in range(10)]
        + [(40, "   ", "b")]
    )
    docs = spark.createDataFrame(rows, "doc_id int, text string, source string")
    target = docs.filter(F.col("source") == "a")
    out = select_corpus(
        docs, target, target, frac=0.5, mix_total=1000.0
    ).collect()
    # mix_total >> corpus => rates cap at 1.0, so output == the cut set:
    # floor(21 * 0.5) = 10 docs, and the target-like docs outrank
    assert len(out) == 10
    assert {r.source for r in out} == {"a"}


def test_sign_projection_preserves_neighbors_roughly(spark, emb):
    """Sign projection: exact integer determinism under repartition, and
    the planted near-neighbor (vec 2 ~ vec 0) stays the most cosine-
    similar pair in the projected space."""
    from irstats2_spark.pipeline.similarity import (
        cosine_pre_quantized,
        sign_random_projection,
    )

    proj = sign_random_projection(emb, d_in=4, d_out=4)
    a = {r.vec_id: list(r.proj) for r in proj.collect()}
    b = {
        r.vec_id: list(r.proj)
        for r in sign_random_projection(emb.repartition(5), 4, 4).collect()
    }
    assert a == b
    p = proj.select(
        "vec_id",
        F.transform(F.col("proj"), lambda x: x.cast("double")).alias("v"),
    )
    pairs = (
        p.alias("x")
        .crossJoin(p.alias("y"))
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("a"),
            F.col("y.vec_id").alias("b"),
            F.round(
                cosine_pre_quantized(
                    F.expr("transform(x.v, t -> cast(t * 1000 as bigint))"),
                    F.expr("transform(y.v, t -> cast(t * 1000 as bigint))"),
                ),
                6,
            ).alias("cos"),
        )
        .collect()
    )
    best = max(pairs, key=lambda r: r.cos)
    assert (best.a, best.b) == (0, 2)


def test_shard_manifest_checksum_detects_any_change(spark):
    from irstats2_spark.pipeline.curate import shard_manifest

    docs = spark.createDataFrame(
        [(i, f"document number {i} body text") for i in range(40)],
        "doc_id long, text string",
    )
    base = {r.shard: r for r in shard_manifest(docs, n_shards=4).collect()}
    # partitioning-independent (sorted hashes -> order-free checksum)
    again = {
        r.shard: r for r in shard_manifest(docs.repartition(7), 4).collect()
    }
    assert {k: (v.n_docs, v.content_checksum) for k, v in base.items()} == {
        k: (v.n_docs, v.content_checksum) for k, v in again.items()
    }
    assert sum(v.n_docs for v in base.values()) == 40
    # a single changed doc flips exactly its shard's checksum
    mutated = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 3, F.lit("EDITED")).otherwise(F.col("text")),
    )
    after = {r.shard: r for r in shard_manifest(mutated, 4).collect()}
    changed = [
        s for s in base
        if base[s].content_checksum != after[s].content_checksum
    ]
    assert len(changed) == 1


def test_bpe_train_sampled_matches_distributed_trainer(spark):
    """The production-scale trainer (one distributed word-table pass +
    driver-side merge loop over a size-bounded head) must reproduce the
    per-merge distributed trainer EXACTLY when the sample covers the
    vocab, and its segmentation artifact must be interchangeable; a
    truncated sample still learns the head merges (zipfian mass)."""
    from irstats2_spark.pipeline.bpe import (
        bpe_merge_usage,
        bpe_segment,
        bpe_train,
        bpe_train_sampled,
        word_table,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown cat naps under the warm sun"),
        (3, "the brown dog and the brown fox play in the sun"),
        (4, "quick quick brown brown the the the fox dog cat"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    dist = [tuple(r) for r in bpe_train(docs, n_merges=10).collect()]
    n_vocab = word_table(docs).count()
    samp = [
        tuple(r)
        for r in bpe_train_sampled(
            docs, n_merges=10, sample_words=n_vocab + 5
        ).collect()
    ]
    assert samp == dist

    seg_d = {
        r.doc_id: r.tokens
        for r in bpe_segment(docs, bpe_train(docs, 10)).collect()
    }
    seg_s = {
        r.doc_id: r.tokens
        for r in bpe_segment(
            docs, bpe_train_sampled(docs, 10, n_vocab + 5)
        ).collect()
    }
    assert seg_s == seg_d

    # truncated sample: top words by freq are 'the'/'brown'/'quick' —
    # the first merges (head of the zipf mass) must still be learned
    trunc = [
        (r.left_sym, r.right_sym)
        for r in bpe_train_sampled(docs, 10, sample_words=4).collect()
    ]
    assert len(trunc) > 0
    assert trunc[0] == (dist[0][1], dist[0][2])

    # distributed usage audit: one row per merge; a merge whose symbol
    # survives segmentation must show positive full-corpus uses
    merges = bpe_train_sampled(docs, 10, n_vocab + 5)
    usage = {r.merged_sym: r.corpus_uses for r in bpe_merge_usage(docs, merges).collect()}
    assert len(usage) == len(samp)
    final_tokens = [t for toks in seg_s.values() for t in toks]
    for sym_, uses in usage.items():
        assert uses == final_tokens.count(sym_), sym_


def test_shard_manifest_hierarchical_agrees_with_flat(spark):
    """The chunked md5-of-md5s variant: with chunk_size >= every shard
    it must be BYTE-IDENTICAL to the flat manifest (a one-chunk shard
    emits its chunk digest directly); multi-chunk it must match a
    hand-computed md5-of-md5s over the sorted hash chunks, stay
    partitioning-independent, and flip on any doc change."""
    import hashlib

    from irstats2_spark.pipeline.curate import (
        shard_manifest,
        shard_manifest_hierarchical,
    )

    docs = spark.createDataFrame(
        [(i, f"document number {i} body text") for i in range(40)],
        "doc_id long, text string",
    )
    flat = {r.shard: r for r in shard_manifest(docs, n_shards=4).collect()}
    big = {
        r.shard: r
        for r in shard_manifest_hierarchical(
            docs, n_shards=4, chunk_size=1000
        ).collect()
    }
    assert {k: tuple(v) for k, v in flat.items()} == {
        k: tuple(v) for k, v in big.items()
    }

    # multi-chunk: chunk_size=3 forces several chunks per shard — check
    # against an independent python md5-of-md5s on the same grouping
    small = {
        r.shard: r
        for r in shard_manifest_hierarchical(
            docs, n_shards=4, chunk_size=3
        ).collect()
    }

    def py_hash(texts, chunk_size):
        hashes = sorted(
            hashlib.md5(t.encode()).hexdigest() for t in texts
        )
        chunks = [
            hashes[i : i + chunk_size]
            for i in range(0, len(hashes), chunk_size)
        ]
        digests = [
            hashlib.md5("".join(c).encode()).hexdigest() for c in chunks
        ]
        if len(digests) == 1:
            return digests[0]
        return hashlib.md5("".join(digests).encode()).hexdigest()

    # recover each shard's texts via the same bucket rule the engine uses
    from irstats2_spark.pipeline.sampling import hash_bucket

    assign = {
        r.doc_id: r.shard
        for r in docs.select(
            "doc_id",
            hash_bucket(F.col("doc_id"), 4, "shard:").cast("int").alias("shard"),
        ).collect()
    }
    texts_by_shard = {}
    for i in range(40):
        texts_by_shard.setdefault(assign[i], []).append(
            f"document number {i} body text"
        )
    for s, r in small.items():
        assert r.content_checksum == py_hash(texts_by_shard[s], 3), s
        assert r.content_checksum != flat[s].content_checksum  # 2nd level

    # partitioning-independent and change-sensitive, like the flat form
    again = {
        r.shard: r.content_checksum
        for r in shard_manifest_hierarchical(
            docs.repartition(7), 4, chunk_size=3
        ).collect()
    }
    assert again == {s: r.content_checksum for s, r in small.items()}
    mutated = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 3, F.lit("EDITED")).otherwise(F.col("text")),
    )
    after = {
        r.shard: r.content_checksum
        for r in shard_manifest_hierarchical(mutated, 4, chunk_size=3).collect()
    }
    assert (
        sum(1 for s in small if small[s].content_checksum != after[s]) == 1
    )


def test_chunk_documents_coverage_and_overlap(spark):
    from irstats2_spark.pipeline.textstats import chunk_documents

    long_text = " ".join(f"w{i}" for i in range(100))
    docs = spark.createDataFrame(
        [(1, long_text), (2, "tiny doc"), (3, "   ")],
        "doc_id int, text string",
    )
    out = chunk_documents(docs, chunk_tokens=10, overlap=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # whitespace-only doc yields no rows; short doc yields exactly one
    assert set(by_doc) == {1, 2}
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_text == "tiny doc"
    chunks = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    # stride 7: chunk j starts at token 7j; consecutive chunks share 3
    for a, b in zip(chunks, chunks[1:]):
        assert a.chunk_text.split()[-3:] == b.chunk_text.split()[:3]
    # every token covered, in order, no gaps
    reconstructed = chunks[0].chunk_text.split()
    for c in chunks[1:]:
        reconstructed += c.chunk_text.split()[3:]
    assert reconstructed == long_text.split()
    assert all(r.n_chunk_tokens == len(r.chunk_text.split()) for r in out)


def test_remove_repeated_chunks_transform(spark):
    from irstats2_spark.pipeline.textstats import remove_repeated_chunks

    boiler = " ".join(f"b{i}" for i in range(4))
    fresh = " ".join(f"f{i}" for i in range(4))
    rows = [
        (1, f"{boiler} {fresh} {boiler}"),   # chunk 3 repeats chunk 1
        (2, fresh),                           # nothing repeated
        (3, "  "),                            # empty after normalize
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r.doc_id: r for r in remove_repeated_chunks(docs, chunk_tokens=4).collect()
    }
    assert (out[1].n_chunks, out[1].n_kept) == (3, 2)
    assert out[1].new_text == f"{boiler} {fresh}"
    assert (out[2].n_chunks, out[2].n_kept) == (1, 1)
    assert (out[3].n_chunks, out[3].n_kept, out[3].new_text) == (0, 0, "")
    # idempotent: rewriting the rewrite changes nothing
    again = remove_repeated_chunks(
        spark.createDataFrame(
            [(1, out[1].new_text)], "doc_id int, text string"
        ),
        chunk_tokens=4,
    ).collect()[0]
    assert again.new_text == out[1].new_text and again.n_kept == again.n_chunks


def test_remove_repeated_chunks_idempotent_at_gate(spark):
    """Gate-level idempotency property over the REAL documents table:
    applying the rewrite to its own output changes nothing. This holds
    structurally — every non-final chunk is exactly chunk_tokens tokens,
    so removing a full chunk keeps all later boundaries aligned and the
    kept chunks (distinct by construction) re-chunk to themselves — but
    the property is pinned on real data, where boundary-shift bugs
    would actually surface."""
    from irstats2_spark.pipeline.textstats import remove_repeated_chunks
    from irstats2_spark.sources.testdata import load_table
    from tests.oracle_utils import SF_ORACLE

    docs = load_table(spark, "documents", SF_ORACLE)
    once = remove_repeated_chunks(docs).cache()
    rebuilt = once.select("doc_id", F.col("new_text").alias("text"))
    twice = remove_repeated_chunks(rebuilt)
    joined = once.select("doc_id", F.col("new_text").alias("t1")).join(
        twice.select(
            "doc_id", F.col("new_text").alias("t2"), "n_chunks", "n_kept"
        ),
        "doc_id",
    )
    assert joined.filter(F.col("t1") != F.col("t2")).count() == 0
    assert twice.filter(F.col("n_kept") != F.col("n_chunks")).count() == 0
    once.unpersist()


def test_source_shingle_overlap_directed_containment(spark):
    """Source-grain contamination: a small source fully inside a big one
    reads 1.0 in the small->big direction and fractional the other way;
    disjoint sources emit no row; distinctness is at (source, shingle)
    so intra-source repeats don't inflate the numerator."""
    from irstats2_spark.pipeline.curate import source_shingle_overlap

    shared = "alpha beta gamma delta epsilon"  # 3 shingles at k=3
    rows = [
        (1, "small", shared),
        (2, "small", shared),  # intra-source duplicate: no inflation
        (3, "big", shared + " zeta eta theta iota"),  # contains small's
        (4, "big", "totally different text body here now"),
        (5, "other", "nothing in common with anyone at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, source string, text string")
    got = {
        (r.source_a, r.source_b): (r.n_common, r.frac_of_a)
        for r in source_shingle_overlap(docs).collect()
    }
    # small: 3 distinct shingles, all inside big -> 1.0
    assert got[("small", "big")] == (3, 1.0)
    # big: shared(3) + 4 more from doc3's tail + 4 from doc4 = 11? compute:
    # doc3 has 9 words -> 7 shingles; doc4 6 words -> 4 shingles; distinct
    # big total = 11; common with small = 3
    assert got[("big", "small")] == (3, round(3 / 11, 6))
    assert ("other", "small") not in got and ("small", "other") not in got


def test_knn_graph_ivf_topk_and_ties(spark):
    """k-NN graph: per-cluster top-k by (cosine DESC, neighbor ASC) —
    exact tie order, self never a neighbor, singleton clusters emit
    nothing, k larger than the cluster caps at size-1."""
    from irstats2_spark.pipeline.similarity import knn_graph_ivf

    # cluster A (centroid 0 direction): ids 10, 11, 12 — 11 and 12 are
    # IDENTICAL vectors, so both tie at cosine 1.0 from each other and
    # equal cosine from 10; cluster B: id 20 alone with its centroid
    emb = spark.createDataFrame(
        [
            (10, [1.0, 0.0, 0.1]),
            (11, [1.0, 0.1, 0.0]),
            (12, [1.0, 0.1, 0.0]),
            (20, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "centroid_id int, centroid_vec array<double>",
    )
    rows = knn_graph_ivf(emb, cents, k=5).collect()
    got = {
        r.vec_id: [(r2.rank, r2.neighbor_id, r2.cosine)
                   for r2 in sorted(rows, key=lambda x: x.rank)
                   if r2.vec_id == r.vec_id]
        for r in rows
    }
    # 20 is alone in cluster B: no rows
    assert 20 not in got
    # k=5 caps at cluster_size-1 = 2
    assert all(len(v) == 2 for v in got.values())
    # 10's neighbors: 11 and 12 tie on cosine -> id ASC breaks it
    assert [n for _, n, _ in got[10]] == [11, 12]
    # 11's top neighbor is its identical twin 12 at cosine 1.0
    assert got[11][0][1:] == (12, 1.0)
    assert got[12][0][1:] == (11, 1.0)


def test_corpus_frequent_chunks_and_removal(spark):
    """Cross-doc chunk family: the miner finds exactly the passages
    shared by >= min_docs distinct docs (intra-doc repeats inflate
    n_total, not n_docs); the rewrite drops EVERY occurrence of a
    frequent chunk, keeps rare ones, emits (0,0,'') for empty docs and
    n_kept=0 (not a missing row) for all-boilerplate docs; and the
    cross-doc and intra-doc rewrites compose."""
    from irstats2_spark.pipeline.textstats import (
        corpus_frequent_chunks,
        remove_corpus_frequent_chunks,
        remove_repeated_chunks,
    )

    boiler = " ".join(f"b{i}" for i in range(4))
    rows = [
        (1, f"{boiler} one unique tail here"),
        (2, f"{boiler} another different tail text"),
        (3, f"{boiler} {boiler}"),  # boilerplate only, twice
        (4, "completely fresh standalone document body"),
        (5, "   "),  # empty after normalize
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    mined = {
        r.chunk: (r.n_docs, r.n_total)
        for r in corpus_frequent_chunks(
            docs, chunk_tokens=4, min_docs=2
        ).collect()
    }
    assert mined == {boiler: (3, 4)}  # 3 docs, 4 occurrences (doc 3 x2)

    out = {
        r.doc_id: r
        for r in remove_corpus_frequent_chunks(
            docs, chunk_tokens=4, min_docs=2
        ).collect()
    }
    assert (out[1].n_chunks, out[1].n_kept) == (2, 1)
    assert out[1].new_text == "one unique tail here"
    assert (out[3].n_chunks, out[3].n_kept, out[3].new_text) == (2, 0, "")
    assert (out[4].n_chunks, out[4].n_kept) == (2, 2)
    assert out[4].new_text == "completely fresh standalone document body"
    assert (out[5].n_chunks, out[5].n_kept, out[5].new_text) == (0, 0, "")

    # composes with the intra-doc rewrite: doc 3 is already empty either
    # way; doc 1's surviving text has no intra-doc repeats
    rebuilt = spark.createDataFrame(
        [(r.doc_id, r.new_text) for r in out.values()],
        "doc_id int, text string",
    )
    intra = {
        r.doc_id: r.new_text
        for r in remove_repeated_chunks(rebuilt, chunk_tokens=4).collect()
    }
    assert intra[1] == out[1].new_text


def test_temperature_mix_rates_by_tokens_grain_and_zero_guard(spark):
    """Token-grain temperature rates: a stratum of few LONG docs must
    out-weigh a stratum of many short docs (where the doc-grain form
    ranks them the other way), an all-empty stratum emits rate 0.0
    (not NaN), and expected sampled tokens sum to ~the target when no
    stratum caps."""
    from irstats2_spark.pipeline.sampling import (
        temperature_mix_rates,
        temperature_mix_rates_by_tokens,
    )

    rows = (
        [("long", 200) for _ in range(3)]
        + [("short", 2) for _ in range(30)]
        + [("empty", 0) for _ in range(2)]
    )
    df = spark.createDataFrame(rows, "source string, tok long")
    out = {
        r.stratum: r
        for r in temperature_mix_rates_by_tokens(
            df, "source", "tok", alpha=0.5, target_tokens=300.0
        ).collect()
    }
    assert out["empty"].rate == 0.0
    assert out["long"].n_tokens == 600 and out["short"].n_tokens == 60
    # p ∝ sqrt(tokens): long gets the larger token share
    doc_rates = {
        r.stratum: r.rate
        for r in temperature_mix_rates(
            df, "source", alpha=0.5, target_total=20.0
        ).collect()
    }
    # doc grain sees short as the BIG stratum; token grain does not
    assert doc_rates["long"] > doc_rates["short"]  # few docs => upweighted
    exp_long = out["long"].rate * 600
    exp_short = out["short"].rate * 60
    assert exp_long > exp_short
    # short's ideal share (~72 tokens) exceeds its 60 available: capped
    assert out["short"].rate == 1.0
    # billing: total expected tokens = target minus only the cap
    # shortfall (300 * p_short - 60 ≈ 12), never more than the target
    assert 285.0 < exp_long + exp_short <= 300.0


def test_cdc_chunks_survive_insertion_where_fixed_chunks_shift(spark):
    """The CDC contract: after a prefix insertion, chunk hashes from the
    untouched suffix survive verbatim (boundaries are content-local),
    while fixed-size chunking shares nothing (every boundary shifted).
    Also pins span integrity: chunks tile the doc exactly — starts are
    cumulative, token counts sum to doc length — and short/empty docs
    degrade as documented."""
    from irstats2_spark.pipeline.textstats import (
        cdc_chunks,
        fixed_chunk_array,
        tokens,
    )

    base = " ".join(f"t{i}" for i in range(64))
    rows = [
        (1, base),
        (2, "injected " + base),  # one-token insertion up front
        (3, "xy"),  # shorter than one gram: one whole-doc chunk
        (4, "   "),  # empty after normalize: no rows
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = cdc_chunks(docs, gram_tokens=2, divisor=8).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for rs in by_doc.values():
        rs.sort(key=lambda r: r.chunk_idx)
        # tiling: starts cumulative, lengths sum to the token count
        pos = 0
        for r in rs:
            assert r.start == pos
            pos += r.n_tokens
    assert sum(r.n_tokens for r in by_doc[1]) == 64
    assert len(by_doc[3]) == 1 and by_doc[3][0].n_tokens == 1
    assert 4 not in by_doc
    # robustness: the shared 64-token run still yields mostly-shared
    # CDC chunk hashes (only the first span absorbs the insertion)...
    h1 = {r.chunk_hash for r in by_doc[1]}
    h2 = {r.chunk_hash for r in by_doc[2]}
    shared = h1 & h2
    assert len(shared) >= len(h1) - 2
    # ...while FIXED chunking shares nothing across the same pair
    fixed = docs.filter("doc_id <= 2").select(
        "doc_id",
        F.explode(fixed_chunk_array(tokens(F.col("text")), 8)).alias("c"),
    )
    fh = {
        d: {r.c for r in rs}
        for d, rs in (
            (1, fixed.filter("doc_id = 1").collect()),
            (2, fixed.filter("doc_id = 2").collect()),
        )
    }
    assert not (fh[1] & fh[2])
    # the removal payoff: the shared 64-token run drops from BOTH docs
    # even though it sits at different offsets (fixed-boundary removal
    # would see disjoint chunks and keep everything)
    from irstats2_spark.pipeline.textstats import remove_cdc_frequent_chunks

    removed = {
        r.doc_id: r
        for r in remove_cdc_frequent_chunks(
            docs.filter("doc_id <= 2"), gram_tokens=2, divisor=8, min_docs=2
        ).collect()
    }
    assert removed[1].n_kept < removed[1].n_chunks
    assert removed[2].n_kept < removed[2].n_chunks
    # only the spans the insertion touched can survive: the shared
    # suffix is boilerplate in both docs
    assert len(removed[1].new_text.split()) < 64
    assert len(removed[2].new_text.split()) < 65


def test_remove_listed_chunks_idempotent(spark):
    """Applying the snapshot rewrite to its own output changes nothing:
    the listed set's chunks were already removed, and surviving chunks
    re-chunk to themselves because removal drops whole chunks (token
    positions shift but chunk boundaries re-derive from the surviving
    stream) — apply-twice == apply-once, the property that makes the
    mine-nightly/clean-on-arrival loop safe to re-run on replays."""
    from irstats2_spark.pipeline.textstats import (
        corpus_frequent_chunks,
        remove_listed_chunks,
    )

    boiler = " ".join(f"b{i}" for i in range(4))
    rows = [
        (1, f"{boiler} one unique tail here"),
        (2, f"{boiler} another different tail text"),
        (3, f"{boiler} {boiler}"),
        (4, "completely fresh standalone document body"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    hashes = [
        r.chunk_hash
        for r in corpus_frequent_chunks(docs, chunk_tokens=4, min_docs=2)
        .select("chunk_hash")
        .collect()
    ]
    once = remove_listed_chunks(docs, hashes, chunk_tokens=4)
    again = remove_listed_chunks(
        once.select("doc_id", F.col("new_text").alias("text")),
        hashes,
        chunk_tokens=4,
    )
    got_once = {r.doc_id: r.new_text for r in once.collect()}
    got_twice = {r.doc_id: r.new_text for r in again.collect()}
    assert got_once == got_twice
    assert got_once[3] == ""  # the all-boilerplate doc stays empty


def test_winnowing_guarantee_and_matching(spark):
    """Winnowing invariants: any shared run of window+k-1 tokens yields
    a shared fingerprint even when its position differs between docs
    (the MOSS guarantee); short docs degrade as documented (len < k:
    nothing; fewer grams than one window: the single overall min); and
    the matcher surfaces exactly the sharing pairs."""
    from irstats2_spark.pipeline.dedup import winnow_shared_pairs
    from irstats2_spark.pipeline.textstats import winnow_fingerprints

    run = "s1 s2 s3 s4 s5 s6 s7"  # window + k - 1 = 7 tokens
    rows = [
        (1, f"u1 u2 u3 u4 u5 {run} u6 u7"),
        (2, f"v1 {run} v2 v3 v4 v5 v6 v7 v8"),  # same run, shifted
        (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),  # nothing shared
        (4, "a b c"),  # shorter than k
        (5, "a b c d e"),  # 2 grams < window
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    fps = winnow_fingerprints(docs, k=4, window=4).collect()
    by_doc: dict[int, set] = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    # the guarantee: docs 1 and 2 share >= 1 fingerprint despite the shift
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3])
    assert 4 not in by_doc
    assert len(by_doc[5]) == 1  # single clamped window -> one min
    # density: selection is a strict subset of the gram set for doc 3
    assert 1 <= len(by_doc[3]) <= 7
    # matching step agrees
    pairs = winnow_shared_pairs(docs, k=4, window=4, min_shared=1).collect()
    assert {(p.doc_a, p.doc_b) for p in pairs} == {(1, 2)}
    n12 = next(p.n_shared for p in pairs)
    assert n12 == len(by_doc[1] & by_doc[2])


def test_deterministic_shuffle_is_stable_global_permutation(spark):
    """The shuffle emits a permutation: global_pos is exactly 1..N in
    (sort_key, id) order, shard-local pos is contiguous from 1, shard
    ranges are disjoint and ordered (concatenating shards in order
    replays the global order), and the whole assignment is invariant
    under input partitioning."""
    from irstats2_spark.pipeline.sampling import deterministic_shuffle

    docs = spark.range(0, 301).select(F.col("id").alias("doc_id"))
    out = deterministic_shuffle(docs, n_shards=4).collect()
    n = len(out)
    assert n == 301
    assert sorted(r.global_pos for r in out) == list(range(1, n + 1))
    by_global = sorted(out, key=lambda r: r.global_pos)
    assert [r.doc_id for r in by_global] == [
        r.doc_id for r in sorted(out, key=lambda r: (r.sort_key, r.doc_id))
    ]
    # shard-local ranks are contiguous and shards are ordered key ranges
    shards: dict[int, list] = {}
    for r in out:
        shards.setdefault(r.shard, []).append(r)
    prev_max = ""
    for sh in sorted(shards):
        rows = sorted(shards[sh], key=lambda r: r.pos)
        assert [r.pos for r in rows] == list(range(1, len(rows) + 1))
        assert rows[0].sort_key[:8] > prev_max or prev_max == ""
        prev_max = max(r.sort_key[:8] for r in rows)
    # pure function of the key: repartitioning changes nothing
    again = deterministic_shuffle(docs.repartition(7), n_shards=4).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_duplicate_span_coverage_interval_union(spark):
    """Span coverage counts each token once under overlapping hits
    (adjacent windows merge via min(k, pos-prev)), gaps split coverage,
    intra-doc-only repeats don't qualify (df is DISTINCT docs), and
    sub-window docs emit zero windows and frac 0.0."""
    from irstats2_spark.pipeline.textstats import duplicate_span_coverage

    rows = [
        (1, "a b c d e x y z"),  # shares 'a b c d e' prefix with doc 2
        (2, "a b c d e n o w"),
        (3, "a b c g g c d e m m a b c"),  # 3 disjoint shared spans
        (4, "p q r s"),  # fully duplicated with doc 5
        (5, "p q r s"),
        (6, "t u"),  # shorter than one window
        (7, "h i j h i j"),  # repeats only WITHIN itself
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r.doc_id: r
        for r in duplicate_span_coverage(
            docs, span_tokens=3, min_docs=2
        ).collect()
    }
    # docs 1/2: windows at pos 0,1,2 merge into one 5-token interval
    assert (out[1].n_dup_windows, out[1].covered_tokens) == (3, 5)
    assert out[1].dup_frac == 0.625
    assert (out[2].n_dup_windows, out[2].covered_tokens) == (3, 5)
    # doc 3: 'a b c'@0, 'c d e'@5, 'a b c'@10 — three disjoint spans
    assert (out[3].n_dup_windows, out[3].covered_tokens) == (3, 9)
    assert (out[3].n_tokens, out[3].n_windows) == (13, 11)
    # docs 4/5: adjacent windows at pos 0,1 union to the whole doc
    assert (out[4].covered_tokens, out[4].dup_frac) == (4, 1.0)
    # doc 6: shorter than one window
    assert (out[6].n_windows, out[6].n_dup_windows, out[6].dup_frac) == (
        0, 0, 0.0,
    )
    # doc 7: 'h i j' recurs but only inside doc 7 — df counts docs
    assert (out[7].n_dup_windows, out[7].covered_tokens) == (0, 0)


def test_vocab_encode_ids_and_oov(spark):
    """Bounded-vocab encoding: ids follow (count DESC, token ASC), OOV
    maps to 0, positions index the normalized token stream, and the
    output is invariant under repartitioning."""
    from irstats2_spark.pipeline.textstats import vocab_encode

    docs = spark.createDataFrame(
        [
            (1, "cat cat cat dog dog bird"),
            (2, "dog cat rare"),
        ],
        "doc_id int, text string",
    )
    # counts: cat=4, dog=3, bird=1, rare=1 -> vocab_size=3:
    # cat->1, dog->2, bird->3 (tie bird<rare alphabetically), rare->OOV 0
    out = {
        (r.doc_id, r.pos): r.token_id
        for r in vocab_encode(docs, vocab_size=3).collect()
    }
    assert out == {
        (1, 0): 1, (1, 1): 1, (1, 2): 1, (1, 3): 2, (1, 4): 2, (1, 5): 3,
        (2, 0): 2, (2, 1): 1, (2, 2): 0,
    }
    again = {
        (r.doc_id, r.pos): r.token_id
        for r in vocab_encode(docs.repartition(5), vocab_size=3).collect()
    }
    assert again == out


def test_replicate_by_rates_fractional_epochs(spark):
    from irstats2_spark.pipeline.sampling import replicate_by_rates

    docs = spark.createDataFrame(
        [(i, "small") for i in range(100)] + [(1000 + i, "big") for i in range(100)],
        "doc_id int, source string",
    )
    rates = spark.createDataFrame(
        [("small", 2.3), ("big", 0.4)], "source string, rate double"
    )
    out = replicate_by_rates(docs, rates, "source", "doc_id").collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    # small: everyone twice (copy 0,1) + ~30% a third copy
    small_counts = {}
    for r in by_src["small"]:
        small_counts[r.doc_id] = small_counts.get(r.doc_id, 0) + 1
    assert set(small_counts.values()) <= {2, 3}
    assert all(v >= 2 for v in small_counts.values())
    n_third = sum(1 for v in small_counts.values() if v == 3)
    assert 15 <= n_third <= 45  # ~30 expected of 100
    # big at 0.4 behaves like sample_by_rates: single copies, ~40 kept
    assert all(r.copy_idx == 0 for r in by_src["big"])
    assert 25 <= len(by_src["big"]) <= 55
    # deterministic under repartition
    again = replicate_by_rates(
        docs.repartition(7), rates, "source", "doc_id"
    ).collect()
    assert sorted((r.doc_id, r.copy_idx) for r in again) == sorted(
        (r.doc_id, r.copy_idx) for r in out
    )
    # rates past any fixed series cap (a tiny stratum under a large
    # target_total can push rate >= 64): every doc gets floor(rate) or
    # floor(rate)+1 copies — the engine's sequence is unbounded, and the
    # catalog oracle now derives its series bound from CEIL(MAX(rate))
    big_rate = spark.createDataFrame(
        [("small", 70.3)], "source string, rate double"
    )
    hi = replicate_by_rates(
        docs.filter(F.col("source") == "small"), big_rate, "source", "doc_id"
    ).collect()
    per_doc = {}
    for r in hi:
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + 1
    assert set(per_doc.values()) <= {70, 71}
    assert len(per_doc) == 100


def test_cluster_keepers_by_score_prefers_quality(spark):
    from irstats2_spark.pipeline.dedup import cluster_keepers_by_score

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)],
        "doc_id long, cluster_id long",
    )
    scores = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (7, 5), (8, 5)], "doc_id long, score long"
    )
    out = {r.doc_id: r.is_keeper for r in cluster_keepers_by_score(comp, scores).collect()}
    # cluster 1: docs 2 and 3 tie on score 50 -> min id (2) wins, not min id overall (1)
    assert out == {1: False, 2: True, 3: False, 7: True, 8: False}


def test_idf_jaccard_downweights_boilerplate_overlap(spark):
    """Two docs sharing only corpus-wide boilerplate must score far lower
    under IDF-weighted Jaccard than plain Jaccard; a rare-content match
    scores higher than its plain counterpart."""
    from irstats2_spark.pipeline.dedup import (
        ngram_idf_jaccard_pairs,
        ngram_jaccard_pairs,
    )

    boiler = "standard footer text appears everywhere always"
    rows = [(i, f"{boiler} unique{i}a unique{i}b unique{i}c") for i in range(8)]
    rows += [
        (100, f"rare alpha beta gamma delta epsilon {boiler}"),
        (101, f"rare alpha beta gamma delta epsilon {boiler}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    plain = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.01).collect()
    }
    idf = {
        (r.doc_a, r.doc_b): r.idf_jaccard
        for r in ngram_idf_jaccard_pairs(docs, threshold=0.01).collect()
    }
    # boilerplate present in EVERY doc has idf = ln(1) = 0, so the
    # boilerplate-only pair vanishes outright where plain Jaccard
    # still scores it
    assert plain[(0, 1)] > 0.2
    assert (0, 1) not in idf
    # identical docs stay 1.0 in both
    assert plain[(100, 101)] == 1.0 and idf[(100, 101)] == 1.0


def test_gopher_quality_gate_per_rule_verdicts(spark):
    """Each Gopher rule fires independently and the composite is their
    conjunction: a good doc passes; too-short, gibberish-length-token,
    symbol-heavy, stopword-free, and looping docs each fail exactly
    their rule (plus any they also genuinely trip)."""
    from irstats2_spark.pipeline.textstats import gopher_quality_gate

    good = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away to find a warm place in the sun where it "
            "sleeps all day and dreams of the big meal it will catch "
            "in the morning when the light is soft and the air is cool "
            "while the birds sing in the trees above the quiet field")
    rows = [
        (1, good),                                   # passes everything
        (2, "the short one is a"),                   # fail_length only
        (3, " ".join(["supercalifragilistic"] * 60)),  # long tokens + loop
        (4, "the " + "@#$%^&*! " * 40 + "of a to in is and the end"),
        (5, " ".join(f"w{i}" for i in range(60))),   # no stopwords
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in gopher_quality_gate(docs).collect()}
    assert out[1].quality_pass
    assert not any(
        [out[1].fail_length, out[1].fail_token_len, out[1].fail_symbols,
         out[1].fail_stopwords, out[1].fail_repetition]
    )
    assert out[2].fail_length and not out[2].quality_pass
    assert out[3].fail_token_len and out[3].fail_repetition
    assert out[4].fail_symbols and not out[4].quality_pass
    assert out[5].fail_stopwords and not out[5].quality_pass
    assert not out[5].fail_length  # 60 tokens: the length rule is clean


# Property test: the Spark winnowing selection against an independent
# pure-python reference of the Schleimer et al. algorithm (clamped-window
# variant). Spark jobs are slow per-example, so hypothesis drives a few
# multi-doc corpora rather than many tiny cases.
from hypothesis import given, settings
from hypothesis import strategies as st

_WORDS = [f"w{i}" for i in range(24)]


def _ref_winnow(toks: list, k: int = 4, w: int = 4) -> set:
    import hashlib

    keys = [
        int(
            hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()[:8],
            16,
        )
        * 1048576
        + i
        for i in range(len(toks) - k + 1)
    ]
    if not keys:
        return set()
    wl = min(w, len(keys))
    sel = set()
    for j in range(max(len(keys) - w, 0) + 1):
        sel.add(min(keys[j : j + wl]))
    return {(key % 1048576, key >> 20) for key in sel}


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=40),
        min_size=2,
        max_size=6,
    )
)
def test_winnow_fingerprints_match_python_reference(spark, docs):
    """The distributed selection equals an independently-written python
    winnowing (same k/w, clamped window, hash*2^20+pos keys) on random
    small-alphabet corpora — including docs shorter than k, shorter
    than one window, and with repeated grams."""
    from irstats2_spark.pipeline.textstats import winnow_fingerprints

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got: dict[int, set] = {}
    for r in winnow_fingerprints(df, k=4, window=4).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.fp))
    for i, toks in enumerate(docs):
        assert got.get(i, set()) == _ref_winnow(toks), f"doc {i}: {toks}"


def _ref_cdc(toks: list, k: int = 2, d: int = 8) -> list:
    """Independent python reference of the content-defined chunker:
    cut after token c (1-based count) when md5 of the gram ending at c
    is 0 mod d; emit (chunk_idx, start, n_tokens, md5-of-chunk)."""
    import hashlib

    n = len(toks)
    if n == 0:
        return []
    cuts = [0]
    for c in range(k, n):  # cut positions k..n-1, gram = toks[c-k:c]
        h = int(
            hashlib.md5(" ".join(toks[c - k : c]).encode()).hexdigest()[:8],
            16,
        )
        if h % d == 0:
            cuts.append(c)
    cuts.append(n)
    out = []
    for j in range(len(cuts) - 1):
        lo, hi = cuts[j], cuts[j + 1]
        out.append(
            (
                j,
                lo,
                hi - lo,
                hashlib.md5(" ".join(toks[lo:hi]).encode()).hexdigest(),
            )
        )
    return out


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=48),
        min_size=1,
        max_size=6,
    )
)
def test_cdc_chunks_match_python_reference(spark, docs):
    """The distributed CDC chunker equals an independently-written
    python reference (same gram/divisor rule, same boundary indexing)
    on random corpora — including empty docs (no rows) and docs too
    short to cut (one whole-doc chunk)."""
    from irstats2_spark.pipeline.textstats import cdc_chunks

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got: dict[int, list] = {}
    for r in cdc_chunks(df, gram_tokens=2, divisor=8).collect():
        got.setdefault(r.doc_id, []).append(
            (r.chunk_idx, r.start, r.n_tokens, r.chunk_hash)
        )
    for i, toks in enumerate(docs):
        assert sorted(got.get(i, [])) == _ref_cdc(toks), f"doc {i}: {toks}"


def _ref_simhash64(text: str) -> tuple:
    import hashlib

    votes1 = [0] * 32
    votes2 = [0] * 32
    for w in {w for w in text.split() if w}:
        hx = hashlib.md5(w.encode()).hexdigest()
        h1, h2 = int(hx[:8], 16), int(hx[8:16], 16)
        for b in range(32):
            votes1[b] += 1 if (h1 >> b) & 1 else -1
            votes2[b] += 1 if (h2 >> b) & 1 else -1
    lo = sum(1 << b for b in range(32) if votes1[b] > 0)
    hi = sum(1 << b for b in range(32) if votes2[b] > 0)
    return lo, hi


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=40),
        min_size=1,
        max_size=8,
    )
)
def test_simhash64_matches_python_reference(spark, docs):
    """The vectorized signature equals a word-at-a-time python
    reference (md5 hex slices, per-bit votes, sign packing) on random
    corpora — including empty docs (all-zero signature) and docs whose
    words repeat (distinct-word votes)."""
    from irstats2_spark.pipeline.dedup import simhash64

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r.doc_id: (r.sim_lo, r.sim_hi)
        for r in simhash64(df).collect()
    }
    for i, toks in enumerate(docs):
        assert got[i] == _ref_simhash64(" ".join(toks)), f"doc {i}"


def test_pq_rerank_exact_recovers_true_topk(spark):
    """pq_rerank_exact: exact_dist is the true quantized integer L2
    (independent python recompute), ranks follow (exact_dist, vec_id),
    and with shortlist == corpus size the re-rank output IS the exact
    brute-force top-k regardless of how lossy the ADC ordering was."""
    import math

    import numpy as np

    from irstats2_spark.pipeline.pq import (
        pq_encode_vec,
        pq_fit,
        pq_rerank_exact,
    )

    dim, m, n_codes = 4, 2, 2
    vecs = [
        (0, [0.0, 0.0, 1.0, 1.0]),
        (1, [1.0, 1.0, 0.0, 0.0]),
        (2, [0.1, 0.0, 1.0, 0.9]),
        (3, [0.9, 1.0, 0.1, 0.0]),
        (4, [0.0, 0.1, 0.9, 1.0]),
        (5, [1.0, 0.9, 0.0, 0.1]),
        (6, [0.5, 0.5, 0.5, 0.5]),
        (7, [0.2, 0.1, 0.8, 0.9]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cb = pq_fit(df, dim, m, n_codes, max_iter=2)
    codes = pq_encode_vec(df, cb, dim, m)
    queries = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )

    def q(xs):
        return [
            int(math.floor(float(np.float32(x)) * 1000 + 0.5)) for x in xs
        ]

    def l2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    qv = {vid: q(v) for vid, v in vecs}

    # full-corpus shortlist => the re-rank must equal exact brute force
    out = pq_rerank_exact(
        codes, cb, queries, df, dim, m, n_codes, shortlist=len(vecs), k=3
    ).collect()
    assert len(out) == 2 * 3
    for r in out:
        assert r.exact_dist == l2(qv[r.query_id], qv[r.vec_id])
    for qid in (0, 1):
        got = [
            (r.vec_id, r.exact_dist)
            for r in sorted(
                (r for r in out if r.query_id == qid),
                key=lambda r: r.rank,
            )
        ]
        want = sorted(
            ((v, l2(qv[qid], qv[v])) for v, _ in vecs),
            key=lambda t: (t[1], t[0]),
        )[:3]
        assert got == want

    # a narrow shortlist still ranks by exact distance within it
    narrow = pq_rerank_exact(
        codes, cb, queries, df, dim, m, n_codes, shortlist=4, k=4
    ).collect()
    for qid in (0, 1):
        rows = sorted(
            (r for r in narrow if r.query_id == qid), key=lambda r: r.rank
        )
        dists = [(r.exact_dist, r.vec_id) for r in rows]
        assert dists == sorted(dists)


def test_edit_distance_dups_verifies_candidates(spark):
    """edit_distance_dups: a small in-place edit passes the normalized
    cut with the TRUE Levenshtein distance (pinned vs an independent
    python DP), a token-set-identical-but-heavily-edited pair is cut by
    the norm threshold, and unrelated docs never pair."""
    from irstats2_spark.pipeline.dedup import edit_distance_dups

    base = " ".join(f"tok{i} word{i} common{i % 7}" for i in range(40))
    # one changed word leaves long shared token runs on both sides, so
    # the winnowing candidate stage is guaranteed to propose the pair
    edited = base.replace("tok5", "tok5x")
    unrelated = " ".join(f"zzz{i} qqq{i} vvv{i}" for i in range(40))
    rows = [(0, base), (1, edited), (2, unrelated)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    out = edit_distance_dups(docs, max_norm=0.3).collect()

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(
                        prev[j] + 1,
                        cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb),
                    )
                )
            prev = cur
        return prev[-1]

    got = {(r.doc_a, r.doc_b): r for r in out}
    assert set(got) == {(0, 1)}, f"unexpected pairs: {sorted(got)}"
    r = got[(0, 1)]
    want = lev(base, edited)
    assert r.edit_distance == want
    assert abs(
        r.edit_norm - want / max(len(base), len(edited))
    ) < 1e-6

    # same token SET but every token repositioned: a set-based blocker
    # would propose this (and waste a full DP on it); the sequential
    # winnowing blocker must not even PROPOSE it — reversal leaves no
    # shared window+k-1 token run, so no shared fingerprint exists
    shuffled = " ".join(reversed(base.split(" ")))
    docs2 = spark.createDataFrame(
        [(0, base), (1, shuffled)], "doc_id long, text string"
    )
    assert edit_distance_dups(docs2, max_norm=1.0).count() == 0


def test_ccnet_buckets_equal_count_and_monotone(spark):
    """ccnet_perplexity_buckets: per-language tiles are equal-count
    (±1, remainder to lower tiles per SQL NTILE), tier keys are
    monotone (every head key <= every middle key <= every tail key
    within a language), and the integer sort key matches a python
    recompute of micro-nats DIV bigram count."""
    from irstats2_spark.pipeline.textstats import (
        ccnet_perplexity_buckets,
        lm_nll_scores,
    )

    rows = []
    for i in range(20):
        # en docs: increasingly reference-unlike by injecting rare toks
        rows.append((i, "en", " ".join(["good"] * (20 - i) + [f"rare{i}"] * i)))
    for i in range(7):
        rows.append((100 + i, "de", " ".join(["gut"] * (7 - i) + [f"selten{i}"] * i)))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    ref = docs.filter(F.col("doc_id").isin(0, 100))

    out = ccnet_perplexity_buckets(docs, ref).collect()
    scores = {
        r.doc_id: (r.nll_micro, r.n_bigrams)
        for r in lm_nll_scores(docs, ref).collect()
    }
    for r in out:
        nll, nb = scores[r.doc_id]
        assert r.nll_per_bigram_micro == (
            (nll * 1_000_000) // nb if nb > 0 else 0
        )

    for lang, n in (("en", 20), ("de", 7)):
        grp = [r for r in out if r.lang == lang]
        assert len(grp) == n
        sizes = {b: sum(1 for r in grp if r.bucket == b) for b in (1, 2, 3)}
        base = n // 3
        assert all(v in (base, base + 1) for v in sizes.values())
        assert sum(sizes.values()) == n
        # remainder tiles are the LOWER ones
        assert sorted(sizes.values(), reverse=True) == [
            sizes[1], sizes[2], sizes[3]
        ]
        for lo, hi in ((1, 2), (2, 3)):
            mx = max(r.nll_per_bigram_micro for r in grp if r.bucket == lo)
            mn = min(r.nll_per_bigram_micro for r in grp if r.bucket == hi)
            assert mx <= mn
    tiers = {r.bucket: r.tier for r in out}
    assert tiers == {1: "head", 2: "middle", 3: "tail"}


def test_split_leakage_safe_keeps_neardups_together(spark):
    """split_assign_leakage_safe: every pair (and transitively every
    component) shares one split; with no pairs the assignment equals
    plain split_assign row-for-row."""
    from irstats2_spark.pipeline.sampling import (
        split_assign,
        split_assign_leakage_safe,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(60)], "doc_id long"
    )
    # a chain component {1,2,3}, a pair {10,40}, rest singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 40)], "doc_a long, doc_b long"
    )
    out = {
        r.doc_id: r
        for r in split_assign_leakage_safe(docs, pairs).collect()
    }
    assert len(out) == 60
    for comp in ({1, 2, 3}, {10, 40}):
        splits = {out[d].split for d in comp}
        reps = {out[d].cluster_rep for d in comp}
        assert len(splits) == 1 and reps == {min(comp)}

    plain = {r.doc_id: r for r in
             split_assign(docs, "doc_id").collect()}
    # singletons must agree with the plain id-hash assignment
    for d in set(range(60)) - {1, 2, 3, 10, 40}:
        assert out[d].split == plain[d].split
        assert out[d].cluster_rep == d

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    eq = {r.doc_id: r.split
          for r in split_assign_leakage_safe(docs, empty).collect()}
    assert eq == {d: plain[d].split for d in range(60)}

    # components= sharing idiom: a precomputed closure over the same
    # pairs must reproduce the internal-build output exactly
    from irstats2_spark.pipeline.dedup import connected_components

    shared = {
        r.doc_id: (r.cluster_rep, r.split)
        for r in split_assign_leakage_safe(
            docs, pairs, components=connected_components(pairs)
        ).collect()
    }
    assert shared == {d: (out[d].cluster_rep, out[d].split) for d in out}


def test_knn_mutual_graph_symmetrizes(spark):
    """knn_mutual_graph on a hand-built directed graph: one-way edges
    drop, mutual edges emit exactly once with vec_id < neighbor_id and
    both ranks preserved."""
    from irstats2_spark.pipeline.similarity import knn_mutual_graph

    g = spark.createDataFrame(
        [
            # mutual pair (1,2)
            (1, 2, 1, 0.9),
            (2, 1, 2, 0.9),
            # hub: 3 lists 1, but 1 does not list 3
            (3, 1, 1, 0.8),
            # mutual pair (3,4) listed in both directions
            (3, 4, 2, 0.7),
            (4, 3, 1, 0.7),
            # dangling one-way
            (5, 2, 1, 0.6),
        ],
        "vec_id long, neighbor_id long, rank int, cosine double",
    )
    out = sorted(
        (r.vec_id, r.neighbor_id, r.rank_fwd, r.rank_rev, r.cosine)
        for r in knn_mutual_graph(g).collect()
    )
    assert out == [(1, 2, 1, 2, 0.9), (3, 4, 2, 1, 0.7)]


def test_vocab_coverage_curve_exact(spark):
    """vocab_coverage_curve vs a python Counter on a corpus with known
    Zipf-ish counts, boundary ties, and ks larger than the vocab."""
    from collections import Counter

    from irstats2_spark.pipeline.textstats import vocab_coverage_curve

    rows = [
        (0, "a a a a b b b c c d"),
        (1, "a b c d e f"),
        (2, "b b a e e e"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cnt = Counter(" ".join(t for _, t in rows).split())
    order = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(cnt.values())

    ks = (1, 2, 3, 4, 100)
    out = {r.k: r for r in vocab_coverage_curve(docs, ks=ks).collect()}
    assert set(out) == set(ks)
    for k in ks:
        topk = order[:k]
        r = out[k]
        assert r.n_types == len(topk)
        assert r.covered_occurrences == sum(c for _, c in topk)
        assert r.total_occurrences == total
        assert abs(r.share - sum(c for _, c in topk) / total) < 1e-6
    assert out[100].share == 1.0


def test_ivf_probe_sweep_monotone_and_full_probe_exact(spark):
    """ivf_probe_sweep_audit: n_hit is monotone in probes, and probing
    EVERY cluster makes IVF exhaustive => recall 1.0."""
    from irstats2_spark.pipeline.similarity import ivf_probe_sweep_audit

    import numpy as np

    rng = np.random.RandomState(7)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(8)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    cents = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    out = {
        r.n_probes: r
        for r in ivf_probe_sweep_audit(
            emb, cents, queries, probes=(1, 2, 3), k=4
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert all(r.n_exact == 2 * 4 for r in out.values())
    assert out[1].n_hit <= out[2].n_hit <= out[3].n_hit
    # 3 probes over 3 clusters == exhaustive search == perfect recall
    assert out[3].n_hit == out[3].n_exact
    assert out[3].recall_at_4 == 1.0


def test_shard_compaction_plan_bin_packing(spark):
    """shard_compaction_plan on hand-built manifests: sequential fill
    closes a file when the running total crosses the target, oversized
    shards get their own file, and file stats are consistent."""
    from irstats2_spark.pipeline.curate import shard_compaction_plan

    manifest = spark.createDataFrame(
        [(0, 30), (1, 30), (2, 30), (3, 200), (4, 10), (5, 10)],
        "shard int, n_bytes long",
    )
    out = {r.shard: r for r in
           shard_compaction_plan(manifest, target_bytes=100).collect()}
    # cum_before: 0,30,60,90,290,300 -> files 0,0,0,0,2,3
    assert [out[s].target_file for s in range(6)] == [0, 0, 0, 0, 2, 3]
    # the oversized shard 3 shares file 0's id but forces the next shard
    # into a fresh file; file totals/counts aggregate per file id
    assert out[0].file_bytes == 290 and out[0].n_shards_in_file == 4
    assert out[4].file_bytes == 10 and out[4].n_shards_in_file == 1
    assert sum(r.n_bytes for r in out.values()) == sum(
        {r.target_file: r.file_bytes for r in out.values()}.values()
    )

    # exact-boundary fill: totals hitting the target exactly roll over
    even = spark.createDataFrame(
        [(i, 50) for i in range(4)], "shard int, n_bytes long"
    )
    got = {r.shard: r.target_file for r in
           shard_compaction_plan(even, target_bytes=100).collect()}
    assert got == {0: 0, 1: 0, 2: 1, 3: 1}


def test_edit_distance_incremental_matches_batch_cross_pairs(spark):
    """edit_distance_incremental == the cross-(old,new) subset of the
    full batch miner on old ∪ new, for the same winnowing params."""
    from irstats2_spark.pipeline.dedup import (
        edit_distance_dups,
        edit_distance_incremental,
    )
    from irstats2_spark.pipeline.textstats import winnow_fingerprints

    base = " ".join(f"tok{i} word{i} common{i % 7}" for i in range(40))
    rows = [
        (0, base),
        (1, " ".join(f"zzz{i} qqq{i}" for i in range(30))),
        # new batch: a near-copy of an OLD doc and an unrelated doc
        (10, base.replace("tok5", "tok5x")),
        (11, " ".join(f"mmm{i} nnn{i}" for i in range(30))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = docs.filter(F.col("doc_id") < 10)
    new = docs.filter(F.col("doc_id") >= 10)

    inc = sorted(
        (r.old_id, r.new_id, r.n_shared, r.edit_distance, r.edit_norm)
        for r in edit_distance_incremental(
            new, winnow_fingerprints(old, k=4, window=4), old
        ).collect()
    )
    full = sorted(
        (r.doc_a, r.doc_b, r.n_shared, r.edit_distance, r.edit_norm)
        for r in edit_distance_dups(docs).collect()
        if r.doc_a < 10 <= r.doc_b
    )
    assert inc == full and len(inc) == 1
    assert inc[0][:2] == (0, 10)


def test_lang_confusion_audit_cells(spark):
    """lang_confusion_audit on a corpus with known detector outcomes:
    correct en/de cells, one engineered es->fr confusion, shares sum to
    1 per label, diagonal flagged is_correct."""
    from irstats2_spark.pipeline.textstats import lang_confusion_audit

    rows = [
        (0, "en", "the cat and the dog of a house"),
        (1, "en", "to be in the garden is a joy"),
        (2, "de", "der hund und die katze ist nicht da"),
        # 'le'/'les'/'est'/'une' outvote the es markers => detected fr
        (3, "es", "le les est une la"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {(r.labeled_lang, r.detected_lang): r
           for r in lang_confusion_audit(docs).collect()}
    assert out[("en", "en")].n_docs == 2
    assert out[("en", "en")].label_share == 1.0
    assert out[("en", "en")].is_correct
    assert out[("de", "de")].n_docs == 1
    cell = out[("es", "fr")]
    assert cell.n_docs == 1 and not cell.is_correct
    for label in ("en", "de", "es"):
        assert abs(sum(r.label_share for k, r in out.items()
                       if k[0] == label) - 1.0) < 1e-6


def test_temperature_sweep_limits_and_consistency(spark):
    """temperature_sweep_rates: each alpha's branch equals a direct
    temperature_mix_rates call; at alpha=1 every stratum's expected
    doc count (n * rate) is proportional to n (uniform rate) and sums
    to the target when no cap bites."""
    from irstats2_spark.pipeline.sampling import (
        temperature_mix_rates,
        temperature_sweep_rates,
    )

    rows = [(i, "big") for i in range(400)] + [
        (1000 + i, "small") for i in range(100)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    sweep = temperature_sweep_rates(
        docs, "source", alphas=(0.5, 1.0), target_total=50.0
    ).collect()
    got = {(r.alpha, r.stratum): r for r in sweep}
    assert len(got) == 4

    for a in (0.5, 1.0):
        direct = {
            r.stratum: r.rate
            for r in temperature_mix_rates(
                docs, "source", alpha=a, target_total=50.0
            ).collect()
        }
        for s in ("big", "small"):
            assert got[(a, s)].rate == direct[s]

    # alpha=1: p ∝ n  =>  identical keep-rate everywhere, total = 50
    r1 = got[(1.0, "big")].rate
    assert abs(got[(1.0, "small")].rate - r1) < 1e-6
    assert abs(400 * r1 + 100 * got[(1.0, "small")].rate - 50.0) < 0.01
    # alpha<1 up-weights the small stratum
    assert got[(0.5, "small")].rate > got[(0.5, "big")].rate


def _ref_levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WORDS), min_size=8, max_size=30),
        min_size=2,
        max_size=5,
    ),
)
def test_edit_distance_dups_match_python_dp(spark, docs):
    """Every pair edit_distance_dups returns carries the TRUE DP
    Levenshtein distance and respects the integer-exact norm cut; an
    injected extension of doc 0 (one token appended — the docs share
    doc 0's full >= window+k-1 token run, so the winnowing guarantee
    forces a shared fingerprint) is always found, with the DP distance
    of the actual string edit."""
    from irstats2_spark.pipeline.dedup import edit_distance_dups

    # append a repeat of an existing token: the shared prefix run is
    # len(doc0) >= 8 >= window+k-1 tokens => guaranteed candidate
    near = list(docs[0]) + [docs[0][0]]
    rows = [(i, " ".join(t)) for i, t in enumerate(docs)]
    copy_id = len(docs)
    rows.append((copy_id, " ".join(near)))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    texts = dict(rows)

    # min_shared=1: the winnowing guarantee promises ONE shared
    # fingerprint for a shared >= window+k-1 run, so the recall-max
    # setting is the one with a provable contract to pin
    out = edit_distance_dups(df, max_norm=1.0, min_shared=1).collect()
    seen = set()
    for r in out:
        want = _ref_levenshtein(texts[r.doc_a], texts[r.doc_b])
        assert r.edit_distance == want, (r.doc_a, r.doc_b)
        glen = max(len(texts[r.doc_a]), len(texts[r.doc_b]))
        assert abs(r.edit_norm - want / glen) < 1e-6
        seen.add((r.doc_a, r.doc_b))
    assert (0, copy_id) in seen
    assert any(
        r.edit_distance == len(docs[0][0]) + 1
        for r in out
        if (r.doc_a, r.doc_b) == (0, copy_id)
    )


def test_quality_calibration_audit_cells(spark):
    """quality_calibration_audit on a corpus engineered to hit both
    agreement and disagreement cells; shares sum to 1 per label."""
    from irstats2_spark.pipeline.textstats import quality_calibration_audit

    # 60 tokens, all trigrams distinct (no repetition fail), stopwords
    # present, mean token length in-range
    good = " ".join(f"the word{i} of tree{i}" for i in range(15))
    rows = [
        (0, "pos_seed", good + " alpha bravo"),
        (1, "neg_seed", " ".join(f"junkk{i} blurb{i}" for i in range(30))),
        # classifier-pos (seed words) AND gate-pass (long, stopwords)
        (2, "c", good + " delta echo"),
        # classifier-neg AND gate-fail (short, no stopwords)
        (3, "c", "junkk1 blurb2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {(r.label, r.quality_pass): r
           for r in quality_calibration_audit(
               docs,
               docs.filter(F.col("source") == "pos_seed"),
               docs.filter(F.col("source") == "neg_seed"),
           ).collect()}
    # doc 0 and 2 are pos+pass; doc 1 and 3 neg+fail
    assert out[("pos", True)].n_docs == 2
    assert out[("neg", False)].n_docs == 2
    for label in {k[0] for k in out}:
        assert abs(sum(r.label_share for k, r in out.items()
                       if k[0] == label) - 1.0) < 1e-6


def test_lsh_band_sweep_monotone_and_exact_counts(spark):
    """lsh_band_sweep_audit: more bands (fewer rows each) never lowers
    candidate volume or recall; identical docs are found at every
    config; counts match a direct candidates/truth recompute."""
    from irstats2_spark.pipeline.dedup import (
        lsh_band_sweep_audit,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base),
        (1, base),  # exact dup: jaccard 1.0, every band agrees
        (2, base + " tonight"),
        (3, "totally different words about gardening soil and compost"),
        (4, "another unrelated sentence mentioning finance and taxes"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.bands: r for r in lsh_band_sweep_audit(
        docs, band_options=(2, 4, 8), threshold=0.5).collect()}
    assert set(out) == {2, 4, 8}
    assert out[2].rows_per_band == 4 and out[8].rows_per_band == 1
    assert out[2].n_candidates <= out[4].n_candidates <= out[8].n_candidates
    assert out[2].n_found <= out[4].n_found <= out[8].n_found
    truth = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(
        docs, threshold=0.5).select("doc_a", "doc_b").collect()}
    for b in (2, 4, 8):
        cand = {(r.doc_a, r.doc_b) for r in minhash_lsh_candidates(
            docs, n_hashes=8, bands=b).select("doc_a", "doc_b").collect()}
        assert out[b].n_candidates == len(cand)
        assert out[b].n_found == len(truth & cand)
        assert out[b].n_truth == len(truth)
        assert (0, 1) in cand  # identical docs collide in every band
    assert (0, 1) in truth


def test_quality_funnel_every_stage_bites(spark):
    """quality_funnel on an engineered corpus where each cascade stage
    removes a known doc: counts are monotone and each cut is exact."""
    from irstats2_spark.pipeline.curate import quality_funnel

    good = " ".join(f"the word{i} of tree{i}" for i in range(15))
    good2 = " ".join(f"the item{i} of bush{i}" for i in range(15))
    rows = [
        (0, "pos_seed", good + " alpha bravo"),
        (1, "neg_seed", " ".join(f"junkk{i} blurb{i}" for i in range(30))),
        (2, "c", good2),                         # survives everything
        (3, "c", "too short"),                   # dies at quality_gate
        # gate-pass (62 tokens, 2 stopword hits) but classifier-neg:
        # 60 neg-seed tokens outvote the 2 'the's
        (4, "c", "the the " + " ".join(f"junkk{i} blurb{i}"
                                       for i in range(30))),
        (5, "c", good2),                          # exact dup of 2 -> dropped
        (6, "c", good2 + " qq"),                  # near-dup of 2 -> dropped
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.stage: r for r in quality_funnel(
        docs,
        docs.filter(F.col("source") == "pos_seed"),
        docs.filter(F.col("source") == "neg_seed"),
    ).collect()}
    assert [out[i].stage_name for i in range(5)] == [
        "ingested", "quality_gate", "classifier", "exact_dedup", "near_dedup"
    ]
    ns = [out[i].n_docs for i in range(5)]
    assert ns[0] == 7
    assert ns == sorted(ns, reverse=True)
    # doc 3 dies at the gate; 1 and 4 at the classifier; 5 at exact
    # dedup; 6 at near-dedup — leaving {0, 2}
    assert ns[4] == 2
    assert ns[3] - ns[4] >= 1 and ns[2] - ns[3] >= 1


def test_token_entropy_matches_python(spark):
    """token_entropy vs a python recompute with the same micro-nat
    quantization; limiting cases: all-same tokens => 0, all-distinct
    => ln(n), empty => 0."""
    import math
    from collections import Counter

    from irstats2_spark.pipeline.textstats import token_entropy

    rows = [
        (0, "a a a a a a"),
        (1, "a b c d e f"),
        (2, "a a b b b c"),
        (3, ""),
        (4, "x"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in token_entropy(docs).collect()}

    def lnq(x):
        return math.floor(1e6 * math.log(x) + 0.5)

    for did, text in rows:
        toks = [t for t in text.split() if t]
        r = out[did]
        assert r.n_tokens == len(toks)
        assert r.n_types == len(set(toks))
        if not toks:
            assert r.sum_c_lnc_micro == 0 and r.entropy == 0.0
            continue
        c = Counter(toks)
        s = sum(v * lnq(v) for v in c.values())
        assert r.sum_c_lnc_micro == s
        want = round((lnq(len(toks)) * len(toks) - s) / (len(toks) * 1e6), 6)
        assert abs(r.entropy - want) < 1e-9
    assert out[0].entropy == 0.0
    assert abs(out[1].entropy - round(math.log(6), 6)) < 1e-5
    assert out[4].entropy == 0.0


def test_pq_m_sweep_monotone_distortion(spark):
    """pq_m_sweep_audit: distortion decreases (weakly) as m grows —
    more subspaces quantize shorter subvectors — and each branch's
    total equals a direct fit+encode recompute."""
    import numpy as np

    from irstats2_spark.pipeline.pq import (
        pq_encode,
        pq_fit,
        pq_m_sweep_audit,
    )

    rng = np.random.RandomState(11)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(8)]) for i in range(24)],
        "vec_id long, embedding array<float>",
    )
    out = {r.m: r for r in
           pq_m_sweep_audit(emb, dim=8, ms=(2, 4), n_codes=2).collect()}
    assert set(out) == {2, 4}
    assert out[2].sub_dim == 4 and out[4].sub_dim == 2
    assert all(r.n_vecs == 24 for r in out.values())
    assert out[4].total_sq_err <= out[2].total_sq_err
    for m in (2, 4):
        cb = pq_fit(emb, 8, m, 2, max_iter=2)
        want = sum(r.dist for r in pq_encode(emb, cb, 8, m).collect())
        assert out[m].total_sq_err == want
        assert abs(out[m].mean_sq_err - round(want / 24, 6)) < 1e-9


# ---------------------------------------------------------------------------
# Graph tier (pipeline/graph.py)
# ---------------------------------------------------------------------------


def _edge_df(spark, pairs):
    return spark.createDataFrame(list(pairs), "u long, v long")


def test_pagerank_symmetric_graph_equal_ranks(spark):
    """On K3 every node is symmetric, so all ranks must be identical —
    and since in-degree flow equals out-degree flow the fixed point is
    the initial mass (up to floor-division dust)."""
    from irstats2_spark.pipeline.graph import pagerank_integer

    k3 = _edge_df(spark, [(1, 2), (1, 3), (2, 3)])
    rows = pagerank_integer(k3, iterations=3, scale=10**9).collect()
    assert len(rows) == 3
    ranks = {r.rank_scaled for r in rows}
    assert len(ranks) == 1
    assert all(r.degree == 2 for r in rows)
    # mass stays near scale: teleport 0.15*s + 0.85*s_inflow
    assert abs(rows[0].rank_scaled - 10**9) < 10


def test_pagerank_star_center_outranks_leaves(spark):
    from irstats2_spark.pipeline.graph import pagerank_integer

    star = _edge_df(spark, [(0, 1), (0, 2), (0, 3), (0, 4)])
    out = {r.node_id: r for r in pagerank_integer(star, iterations=3).collect()}
    assert out[0].degree == 4
    assert all(out[0].rank_scaled > out[i].rank_scaled for i in (1, 2, 3, 4))


def test_triangle_counts_k3_plus_path(spark):
    """K3 on {1,2,3} plus a pendant edge 3-4: triangle corners count 1,
    the pendant counts 0; clustering coeff is 1.0 on degree-2 corners,
    2/(3*2)=0.333333 on the shared vertex, 0.0 on the leaf."""
    from irstats2_spark.pipeline.graph import triangle_counts

    g = _edge_df(spark, [(1, 2), (1, 3), (2, 3), (3, 4)])
    out = {r.node_id: r for r in triangle_counts(g).collect()}
    assert [out[i].n_triangles for i in (1, 2, 3, 4)] == [1, 1, 1, 0]
    assert out[1].clustering_coeff == 1.0
    assert out[3].clustering_coeff == 0.333333
    assert out[4].clustering_coeff == 0.0


def test_label_propagation_two_components(spark):
    """Two path components converge to their min ids within the round
    budget; community sizes match component sizes."""
    from irstats2_spark.pipeline.graph import label_propagation_min

    g = _edge_df(spark, [(1, 2), (2, 3), (10, 11), (11, 12), (12, 13)])
    out = {r.node_id: r for r in
           label_propagation_min(g, iterations=3).collect()}
    assert all(out[i].community == 1 for i in (1, 2, 3))
    assert all(out[i].community == 10 for i in (10, 11, 12, 13))
    assert out[1].community_size == 3 and out[10].community_size == 4


def test_label_propagation_bounded_rounds_partial(spark):
    """A 6-node path with 1 round: only distance-1 neighbors of a local
    minimum adopt it — documents the bounded-round contract."""
    from irstats2_spark.pipeline.graph import label_propagation_min

    g = _edge_df(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)])
    out = {r.node_id: r.community for r in
           label_propagation_min(g, iterations=1).collect()}
    assert out == {1: 1, 2: 1, 3: 2, 4: 3, 5: 4, 6: 5}


# ---------------------------------------------------------------------------
# Inverted-index cosine, MinHash containment, DoReMi reweight, coreset,
# quota pack
# ---------------------------------------------------------------------------


def test_cosine_pairs_inverted_identical_and_disjoint(spark):
    """Two identical docs → cosine 1.0; a disjoint doc pairs with
    neither; norms count df=1 terms even though they skip the join."""
    from irstats2_spark.pipeline.dedup import cosine_pairs_inverted

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "zeta eta theta iota"),
        ],
        "doc_id long, text string",
    )
    rows = cosine_pairs_inverted(docs, threshold_num=1, threshold_den=2).collect()
    assert [(r.doc_a, r.doc_b) for r in rows] == [(1, 2)]
    assert rows[0].cosine == 1.0
    assert rows[0].dot == 4 and rows[0].norm_sq_a == 4


def test_cosine_pairs_inverted_df1_terms_depress_cosine(spark):
    """A unique term in one doc keeps its norm mass: dot over shared
    terms stays, cosine drops below 1."""
    from irstats2_spark.pipeline.dedup import cosine_pairs_inverted

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma unique")],
        "doc_id long, text string",
    )
    rows = cosine_pairs_inverted(docs, threshold_num=1, threshold_den=2).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.dot == 3 and r.norm_sq_a == 3 and r.norm_sq_b == 4
    assert r.cosine == round(3 / (3 * 4) ** 0.5, 6)


def test_minhash_containment_subset_doc(spark):
    """A short doc whose shingles are a subset of a long doc's has exact
    containment 1.0 in the a-direction and < 1.0 in the b-direction."""
    from irstats2_spark.pipeline.dedup import minhash_containment_audit

    base = "one two three four five six seven eight nine ten"
    longer = base + " eleven twelve thirteen fourteen fifteen sixteen"
    docs = spark.createDataFrame(
        [(1, base), (2, longer)], "doc_id long, text string"
    )
    rows = minhash_containment_audit(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.exact_containment_a == 1.0
    assert r.exact_containment_b < 1.0
    assert 0 <= r.n_sig_matches <= 8
    # estimator identity holds exactly over the integers
    est_i = r.n_sig_matches * (r.size_a + r.size_b)
    assert r.est_containment_a == round(
        est_i / ((8 + r.n_sig_matches) * r.size_a), 6
    )


def test_doremi_reweight_boosts_lossy_domain(spark):
    """The domain with above-average per-token loss gains weight over
    its token-share baseline; weights sum to ~1."""
    from irstats2_spark.pipeline.sampling import doremi_proxy_reweight

    scored = spark.createDataFrame(
        [
            # source, n_bigrams, nll_micro  (rate 1.0 vs 3.0 nats/tok)
            ("easy", 100, 100_000_000),
            ("hard", 100, 300_000_000),
        ],
        "source string, n_bigrams long, nll_micro long",
    )
    out = {r.stratum: r for r in doremi_proxy_reweight(scored).collect()}
    assert out["easy"].excess_micro == 0 and out["easy"].boost_q == 10**6
    assert out["hard"].excess_micro == 1_000_000  # 1 nat over corp rate 2.0
    assert out["hard"].boost_q > out["easy"].boost_q
    assert out["hard"].weight > 0.5  # baseline share was 0.5
    assert abs(out["easy"].weight + out["hard"].weight - 1.0) < 1e-5


def test_coreset_round_robin_across_cells(spark):
    """With budget 4 over two 3-member cells, the first two picks are
    the two cell champions (rank-1s), then the runners-up."""
    from irstats2_spark.pipeline.sampling import coreset_diverse_stratified

    assigned = spark.createDataFrame(
        [
            (1, 10, 0.9), (2, 10, 0.8), (3, 10, 0.7),
            (4, 20, 0.95), (5, 20, 0.5), (6, 20, 0.4),
        ],
        "vec_id long, centroid_id long, centroid_cosine double",
    )
    rows = sorted(
        coreset_diverse_stratified(assigned, k=4).collect(),
        key=lambda r: r.sel_rank,
    )
    assert [r.vec_id for r in rows] == [1, 4, 2, 5]
    assert [r.cell_rank for r in rows] == [1, 1, 2, 2]


def test_quota_pack_boundary_spill(spark):
    """Shards respect the running-total boundary rule and token totals
    are conserved."""
    from irstats2_spark.pipeline.sampling import quota_pack

    sized = spark.createDataFrame(
        [("s", i, 3000) for i in range(4)],
        "source string, doc_id long, n_tokens long",
    )
    rows = quota_pack(sized, quota=4096).collect()
    assert sum(r.used_tokens for r in rows) == 12000
    assert sum(r.n_docs for r in rows) == 4
    # 3000-token docs: doc boundaries at 0,3000,6000,9000 → shards 0,0,1,2
    by_shard = {r.shard_id: r.n_docs for r in rows}
    assert by_shard == {0: 2, 1: 1, 2: 1}


@settings(max_examples=15, deadline=None)
@given(
    bucket=st.lists(
        st.integers(min_value=0, max_value=50), min_size=0, max_size=12
    )
)
def test_ordered_pair_structs_matches_combinations(spark, bucket):
    """_ordered_pair_structs over a sorted bucket == itertools
    combinations of the sorted distinct... no — of the sorted list AS IS
    (duplicates pair too, matching collect_list semantics)."""
    import itertools

    from irstats2_spark.pipeline.dedup import _ordered_pair_structs

    df = spark.createDataFrame([(bucket,)], "ids array<int>")
    out = df.select(
        F.explode(
            _ordered_pair_structs(
                F.array_sort(F.col("ids")),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            )
        ).alias("p")
    ).select("p.a", "p.b")
    got = sorted((r.a, r.b) for r in out.collect())
    want = sorted(itertools.combinations(sorted(bucket), 2))
    assert got == [tuple(w) for w in want]
