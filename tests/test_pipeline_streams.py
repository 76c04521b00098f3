"""Corpus-stream tests of the LLM-pipeline extension: each incremental
stream (``pipeline/streams.py``) or bucketed corpus writer
(``pipeline/layout.py``) matches its batch counterpart."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_streaming_doc_dedup_against_snapshot_and_stream(spark, tmp_path):
    """dedup_doc_stream: the streaming twin of exact_dedup_incremental —
    drops docs whose hash is in the static snapshot, keeps one instance
    per within-stream duplicate hash, passes fresh docs through."""
    import json

    from irstats2_spark.pipeline.streams import dedup_doc_stream

    src = tmp_path / "docs"
    src.mkdir()
    rows = [
        {"doc_id": 1, "ts": "2024-01-01T00:00:00Z", "text": "already seen"},
        {"doc_id": 2, "ts": "2024-01-01T00:01:00Z", "text": "fresh one"},
        {"doc_id": 3, "ts": "2024-01-01T00:02:00Z", "text": "fresh two"},
        {"doc_id": 4, "ts": "2024-01-01T00:03:00Z", "text": "fresh one"},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    snapshot = spark.createDataFrame(
        [("already seen",)], "text string"
    ).select(F.md5("text").alias("text_hash"))

    docs = (
        spark.readStream.schema("doc_id long, ts string, text string")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = dedup_doc_stream(docs, seen_hashes=snapshot, watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("doc_dedup_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT doc_id FROM doc_dedup_out").collect()
    kept = sorted(r.doc_id for r in got)
    # 1 dropped (snapshot), one of {2,4} kept (same hash), 3 kept —
    # WHICH of the duplicate pair survives is nondeterministic, so
    # assert on the set, not a position in the sorted list
    assert set(kept) in ({2, 3}, {3, 4})


def test_streaming_neardup_matches_batch_incremental(spark, tmp_path):
    """neardup_doc_stream: the streaming LSH twin of
    minhash_lsh_incremental — the flagged (old_id, new_id, est_jaccard)
    pairs from the stream must EQUAL the batch incremental operator's
    output on the same (snapshot, batch) data, clean docs flag nothing,
    and band-collision pairs below the estimator threshold stay out."""
    import json

    from irstats2_spark.pipeline.dedup import (
        minhash_lsh_incremental,
        minhash_signatures,
        word_shingles,
    )
    from irstats2_spark.pipeline.streams import neardup_doc_stream

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    old_docs = spark.createDataFrame(
        [(10, base), (11, "completely different historical corpus document text")],
        "doc_id long, text string",
    )
    old_sigs = minhash_signatures(word_shingles(old_docs, "text", "doc_id", 3))

    src = tmp_path / "docs"
    src.mkdir()
    rows = [
        # near-dup of snapshot doc 10: one word changed
        {"doc_id": 1, "ts": "2024-01-01T00:00:00Z",
         "text": base.replace("lazy", "sleepy")},
        # clean
        {"doc_id": 2, "ts": "2024-01-01T00:01:00Z",
         "text": "an entirely unrelated fresh streaming document arrives"},
        # exact copy of snapshot doc 10 (est_jaccard = 1.0)
        {"doc_id": 3, "ts": "2024-01-01T00:02:00Z", "text": base},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    docs = (
        spark.readStream.schema("doc_id long, ts string, text string")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = neardup_doc_stream(docs, old_sigs, threshold=0.5, watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("neardup_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.old_id, r.new_id): r.est_jaccard
        for r in spark.sql("SELECT * FROM neardup_out").collect()
    }

    new_docs = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], "doc_id long, text string"
    )
    batch = {
        (r.old_id, r.new_id): r.est_jaccard
        for r in minhash_lsh_incremental(
            new_docs, old_sigs, threshold=0.5
        ).collect()
    }
    assert got == batch  # streaming == batch incremental, values included
    assert got[(10, 3)] == 1.0  # the exact copy maxes the estimator
    assert (10, 1) in got  # the near-dup is flagged
    assert all(new != 2 for (_, new) in got)  # the clean doc flags nothing


def test_streaming_bloom_prefilter_matches_batch_probe(spark, tmp_path):
    """bloom_prefilter_stream: the streaming twin of dedup.bloom_probe —
    snapshot members tag maybe_seen=true (no false negatives through the
    stream-static broadcast), fresh docs tag exactly as the batch probe
    does on the same bitmap (bit-identical maybe_seen column)."""
    import json

    from irstats2_spark.pipeline.dedup import bloom_build, bloom_probe
    from irstats2_spark.pipeline.streams import bloom_prefilter_stream

    m_bits, k = 256, 3
    snap_texts = [f"snapshot doc {i}" for i in range(30)]
    snapshot = spark.createDataFrame(
        [(t,) for t in snap_texts], "text string"
    ).select(F.md5("text").alias("text_hash"))
    bloom = bloom_build(snapshot, n_hashes=k, m_bits=m_bits)

    rows = [
        {"doc_id": i, "ts": f"2024-01-01T00:{i:02d}:00Z", "text": t}
        for i, t in enumerate(snap_texts[:5] + [f"fresh doc {j}" for j in range(20)])
    ]
    src = tmp_path / "docs"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    docs = (
        spark.readStream.schema("doc_id long, ts string, text string")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = bloom_prefilter_stream(docs, bloom, n_hashes=k, m_bits=m_bits)
    q = (
        out.writeStream.format("memory")
        .queryName("bloom_stream_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: r.maybe_seen
        for r in spark.sql("SELECT doc_id, maybe_seen FROM bloom_stream_out").collect()
    }
    assert len(got) == 25
    assert all(got[i] for i in range(5))  # snapshot members: no false negatives

    batch = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], "doc_id long, text string"
    ).select("doc_id", F.md5("text").alias("text_hash"))
    want = {
        r.doc_id: r.maybe_seen
        for r in bloom_probe(batch, bloom, n_hashes=k, m_bits=m_bits).collect()
    }
    assert got == want  # stream == batch, bit for bit


def test_streaming_decontamination_matches_batch_scores(spark, tmp_path):
    """decontaminate_stream: per-row array-intersect scores must be
    bit-identical to batch contamination_scores on the same docs, with
    no stateful aggregation in the stream."""
    import json

    from irstats2_spark.pipeline.contamination import contamination_scores
    from irstats2_spark.pipeline.streams import decontaminate_stream

    bench = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",)], "text string"
    )
    texts = [
        "the quick brown fox jumps over the lazy dog today",  # heavy overlap
        "completely unrelated words about spark engines here",  # none
        "the quick brown cat naps all day long",  # partial
        "too short",  # unshingleable at k=3 -> 0.0
    ]
    rows = [
        {"doc_id": i, "ts": f"2024-01-01T00:0{i}:00Z", "text": t}
        for i, t in enumerate(texts)
    ]
    src = tmp_path / "docs"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    stream = (
        spark.readStream.schema("doc_id long, ts string, text string")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = decontaminate_stream(stream, bench, k=3, max_frac=0.5)
    q = (
        out.writeStream.format("memory")
        .queryName("decon_stream_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: (r.n_shingles, r.n_contaminated, r.contamination_frac, r.contaminated)
        for r in spark.sql(
            "SELECT doc_id, n_shingles, n_contaminated, contamination_frac,"
            " contaminated FROM decon_stream_out"
        ).collect()
    }
    batch_docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    expect = {
        r.doc_id: (r.n_shingles, r.n_contaminated, r.contamination_frac)
        for r in contamination_scores(batch_docs, bench, k=3).collect()
    }
    assert len(got) == 4
    for i in range(4):
        assert got[i][:3] == expect[i], i
    assert got[0][3] is True and got[1][3] is False and got[3][3] is False


def test_streaming_score_calibration_matches_batch(spark, tmp_path):
    """calibrate_scores_apply is the calibration family's STREAMING tier
    as-is (the decontaminate_stream idiom): the stored histogram side is
    static — its windows run over histogram rows only — and the
    assignment is a stateless NULL-safe stream-static broadcast join, so
    arriving documents get the same score_pctl the batch form assigns,
    bit-for-bit, NULL scores included."""
    import json

    from irstats2_spark.pipeline.sampling import (
        calibrate_scores_apply,
        score_histogram,
    )

    corpus_rows = [
        (i, ["web", "wiki"][i % 2], [0, 1, 2, 5, None][i % 5])
        for i in range(60)
    ]
    corpus = spark.createDataFrame(
        corpus_rows, "doc_id long, source string, score long"
    )
    hist = score_histogram(corpus, "score")
    batch = {
        r.doc_id: r.score_pctl
        for r in calibrate_scores_apply(corpus, hist, "score").collect()
    }

    src = tmp_path / "docs"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(
            json.dumps({"doc_id": d, "source": s, "score": v})
            for d, s, v in corpus_rows
        )
        + "\n"
    )
    stream = spark.readStream.schema(
        "doc_id long, source string, score long"
    ).json(str(src))
    out = calibrate_scores_apply(stream, hist, "score")
    q = (
        out.writeStream.format("memory")
        .queryName("calib_stream_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        r.doc_id: r.score_pctl
        for r in spark.sql(
            "SELECT doc_id, score_pctl FROM calib_stream_out"
        ).collect()
    }
    assert got == batch  # exact equality, NULL-score rows included


def test_bucketed_snapshot_dedup_join_without_snapshot_exchange(spark, tmp_path):
    """write_corpus_snapshot_bucketed: an incremental-dedup join against
    the bucketed snapshot must plan NO exchange on the snapshot side —
    the corpus-sized table is pre-hashed at write time; only the
    day-sized batch shuffles to match."""
    from irstats2_spark.pipeline.layout import write_corpus_snapshot_bucketed

    snap = spark.createDataFrame(
        [(i, f"snapshot doc number {i}") for i in range(50)],
        "doc_id long, text string",
    )
    t = write_corpus_snapshot_bucketed(snap, str(tmp_path), buckets=4)
    batch = spark.createDataFrame(
        [(100 + i, f"snapshot doc number {i}" if i < 3 else f"fresh {i}")
         for i in range(10)],
        "doc_id long, text string",
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        probe = batch.select(
            "doc_id", F.md5("text").alias("text_hash")
        ).repartition(4, "text_hash")
        joined = spark.table(t).join(probe, "text_hash", "inner")
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # the snapshot scan must carry its bucket metadata and feed the
        # join through a Sort only; the single Exchange in the tree is
        # the batch side's explicit repartition-to-match
        import re

        assert "Bucketed: true" in plan
        tree = plan.split("\n\n")[0]
        assert tree.count("Exchange") == 1
        ex_blocks = [
            b for b in plan.split("\n\n") if re.match(r"\(\d+\) Exchange", b)
        ]
        assert len(ex_blocks) == 1
        assert "REPARTITION_BY_NUM" in ex_blocks[0]  # the probe, by us
        assert joined.count() == 3  # the three dup texts
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {t}")
