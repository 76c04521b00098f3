"""Tests for exports, gold storage (partitioned write + replay repair),
and streaming ingestion (availableNow micro-batch)."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from irstats2_spark.sources.export import to_csv, to_json, to_xml
from irstats2_spark.sources.storage import read_fact, replay_from_date, write_fact


def _fact(spark, rows):
    return spark.createDataFrame(
        rows, "eprintid int, datestamp int, value string, count long"
    )


def test_export_formats(spark):
    df = _fact(spark, [(1, 20240101, "downloads", 5), (2, 20240102, "x,y\"z", 7)])
    columns, rows = df.columns, df.collect()
    csv = to_csv(columns, rows)
    assert csv.splitlines()[0] == "eprintid,datestamp,value,count"
    assert '="5"' in csv  # Excel-proofed number
    assert '"x,yz"' in csv  # quotes stripped inside values, comma kept

    doc = json.loads(to_json(columns, rows, origin={"datatype": "downloads"}))
    assert doc["origin"]["datatype"] == "downloads"
    assert len(doc["records"]) == 2

    xml = to_xml(columns, rows)
    assert xml.startswith("<?xml")
    assert "<eprintid>1</eprintid>" in xml
    assert "x,y&quot;z" not in xml  # escaped, not raw
    assert "xml version" in xml


def test_write_and_replay(spark, tmp_path):
    root = str(tmp_path)
    v1 = _fact(
        spark,
        [
            (1, 20240101, "downloads", 5),
            (1, 20240102, "downloads", 3),
            (2, 20240103, "downloads", 9),
        ],
    )
    write_fact(v1, root, "downloads")
    got = read_fact(spark, root, "downloads")
    assert got.count() == 3
    # partition pruning visible in the plan for a date filter
    plan = got.filter(F.col("datestamp") == 20240102)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or got.filter(F.col("datestamp") == 20240102).count() == 1

    # replay from 0102: day 0102 changes, day 0103 replaced, 0101 untouched
    updates = _fact(
        spark,
        [
            (1, 20240102, "downloads", 4),
            (2, 20240103, "downloads", 1),
        ],
    )
    replay_from_date(spark, updates, root, "downloads", 20240102)
    rows = {
        (r.eprintid, r.datestamp): r["count"]
        for r in read_fact(spark, root, "downloads").collect()
    }
    assert rows[(1, 20240101)] == 5
    assert rows[(1, 20240102)] == 4
    assert rows[(2, 20240103)] == 1


def test_full_overwrite_after_replay_drops_stale_days(spark, tmp_path):
    """A replay overwrites its day partitions dynamically on its own
    writer; it leaves the session setting alone, so a later full
    write_fact overwrite still replaces the whole table."""
    root = str(tmp_path)
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    write_fact(
        _fact(spark, [(1, 20240101, "downloads", 5), (1, 20240102, "downloads", 3),
                      (2, 20240103, "downloads", 9)]),
        root, "downloads",
    )
    replay_from_date(
        spark, _fact(spark, [(2, 20240103, "downloads", 4)]), root, "downloads", 20240103
    )
    assert spark.conf.get(key) == before
    write_fact(_fact(spark, [(1, 20240101, "downloads", 7)]), root, "downloads")
    rows = [(r.eprintid, r.datestamp, r["count"])
            for r in read_fact(spark, root, "downloads").collect()]
    assert rows == [(1, 20240101, 7)]


def test_read_parquet_if_exists_missing_empty_and_corrupt(spark, tmp_path):
    """The three 'no table yet?' shapes: a missing path and an
    existing-but-empty directory (interrupted first write) both return
    None so first-batch recovery works; a directory with a corrupt
    parquet file still raises (schema inference finds the file, the
    footer read fails) — never silently 'no table'."""
    from irstats2_spark.sources.storage import read_parquet_if_exists

    assert read_parquet_if_exists(spark, str(tmp_path / "never_written")) is None

    empty = tmp_path / "fact_interrupted"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")  # marker only, no part files
    assert read_parquet_if_exists(spark, str(empty)) is None

    # a dir whose only content is a NON-marker hidden file (a part file
    # someone renamed behind '_') is NOT confirmably empty: Spark can't
    # read it (UNABLE_TO_INFER_SCHEMA) and the helper must fail loud,
    # not hand the sink a silent first-batch overwrite
    hidden = tmp_path / "fact_hidden_part"
    hidden.mkdir()
    (hidden / "_part-00000.parquet").write_bytes(b"renamed real data")
    with pytest.raises(Exception):
        read_parquet_if_exists(spark, str(hidden))

    corrupt = tmp_path / "fact_corrupt"
    corrupt.mkdir()
    (corrupt / "part-00000.parquet").write_bytes(b"not a parquet footer")
    # the read (or at latest the collect) must RAISE — a corrupt table
    # returning None would silently turn the sink's merge into overwrite
    raised = False
    try:
        df = read_parquet_if_exists(spark, str(corrupt))
        if df is not None:
            df.collect()
    except Exception:
        raised = True
    assert raised, "corrupt parquet must not be treated as 'no table yet'"


def test_streaming_ingest(spark, tmp_path):
    from irstats2_spark.streaming.ingest import read_access_stream, start_fact_stream

    logs = tmp_path / "current"
    logs.mkdir()
    lines = []
    for i in range(50):
        ts = dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i * 30)
        is_dl = i % 2 == 0
        lines.append(
            "\t".join(
                [
                    ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                    f"10.0.0.{i % 5}",
                    "Mozilla/5.0 Chrome/1",
                    "",
                    "?fulltext=yes" if is_dl else "?abstract=yes",
                    str(i % 3 + 1),
                    str(100 + i) if is_dl else "",
                ]
            )
        )
    (logs / "2024-01-01.log").write_text("\n".join(lines) + "\n")

    out = tmp_path / "gold"
    ckpt = tmp_path / "ckpt"
    stream = read_access_stream(spark, str(logs))
    q = start_fact_stream(stream, str(out), str(ckpt))
    q.awaitTermination(120)

    downloads = read_fact(spark, str(out), "downloads")
    total = downloads.agg(F.sum("count")).head()[0]
    assert total == 25

    # late-arriving second file: incremental batch picks up ONLY new lines
    more = []
    for i in range(10):
        ts = dt.datetime(2024, 1, 2) + dt.timedelta(minutes=i)
        more.append(
            "\t".join(
                [
                    ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                    "10.0.0.9",
                    "Mozilla/5.0 Chrome/1",
                    "",
                    "?fulltext=yes",
                    "7",
                    str(200 + i),
                ]
            )
        )
    (logs / "2024-01-02.log").write_text("\n".join(more) + "\n")
    q2 = start_fact_stream(read_access_stream(spark, str(logs)), str(out), str(ckpt))
    q2.awaitTermination(120)
    total2 = read_fact(spark, str(out), "downloads").agg(F.sum("count")).head()[0]
    assert total2 == 35


def _clean_day_lines() -> list[str]:
    """One day of browser traffic: 10.0.0.x clients, no repeat key twice
    within an hour, no duplicate lines, downloads and abstract views."""
    lines = []
    for i in range(30):
        ts = dt.datetime(2024, 3, 5) + dt.timedelta(minutes=i * 17)
        is_dl = i % 3 != 0
        lines.append(
            "\t".join(
                [
                    ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                    f"10.0.0.{i % 7}",
                    "Mozilla/5.0 Chrome/1",
                    "",
                    "?fulltext=yes" if is_dl else "?abstract=yes",
                    str(i % 4 + 1),
                    str(100 + i) if is_dl else "",
                ]
            )
        )
    return lines


_CELL = ("eprintid", "datestamp", "value", "count")


def _batch_cells(spark, logs) -> dict:
    from irstats2_spark.etl import processors as P
    from irstats2_spark.etl.pipeline import build_silver_events
    from irstats2_spark.sources.access_log import read_access_logs

    silver = build_silver_events(read_access_logs(spark, str(logs / "*.log")))
    return {
        datatype: sorted(tuple(r) for r in fact.select(*_CELL).collect())
        for datatype, fact in (("downloads", P.downloads(silver)), ("views", P.views(silver)))
    }


def _stream_cells(spark, logs, root) -> dict:
    from irstats2_spark.streaming.ingest import read_access_stream, start_fact_stream

    q = start_fact_stream(
        read_access_stream(spark, str(logs)), str(root / "gold"), str(root / "ckpt")
    )
    q.awaitTermination(120)
    assert q.exception() is None
    return {
        datatype: sorted(
            tuple(r) for r in read_fact(spark, str(root / "gold"), datatype).select(*_CELL).collect()
        )
        for datatype in ("downloads", "views")
    }


def test_stream_and_batch_facts_agree_on_a_clean_day(spark, tmp_path):
    """The chosen batch/stream difference: the fact stream applies line
    dedup only, the nightly batch also the Robots and Repeat filters. On
    a day those filters leave alone, both give the same cells; one robot
    hit changes only the stream's counts."""
    clean = tmp_path / "clean"
    clean.mkdir()
    (clean / "day.log").write_text("\n".join(_clean_day_lines()) + "\n")
    batch = _batch_cells(spark, clean)
    assert sum(c[-1] for c in batch["downloads"]) == 20
    assert sum(c[-1] for c in batch["views"]) == 10
    assert _stream_cells(spark, clean, tmp_path / "s_clean") == batch

    robot = tmp_path / "robot"
    robot.mkdir()
    bot = "2024-03-05T12:00:00Z\t10.0.0.1\tGooglebot/2.1\t\t?fulltext=yes\t1\t100"
    (robot / "day.log").write_text("\n".join(_clean_day_lines() + [bot]) + "\n")
    assert _batch_cells(spark, robot) == batch
    streamed = _stream_cells(spark, robot, tmp_path / "s_robot")
    assert streamed["views"] == batch["views"]
    assert sum(c[-1] for c in streamed["downloads"]) == 21
    assert streamed["downloads"] != batch["downloads"]


def test_find_robots_ip_duplicates_three_probe_levels():
    """find_local_robots_ip_duplicates:32-48: a local prefix is a
    duplicate if the shipped list holds its /16, its /24, or the exact
    ip — first match wins, non-matches are silent."""
    from irstats2_spark.operators.filters import find_robots_ip_duplicates

    shipped = ("13.52.", "66.249.64.", "192.0.2.7")
    got = find_robots_ip_duplicates(
        ["13.52.9.1", "66.249.64.3", "192.0.2.7", "203.0.113.5"],
        shipped_prefixes=shipped,
    )
    assert got == [
        ("13.52.9.1", "13.52."),
        ("66.249.64.3", "66.249.64."),
        ("192.0.2.7", "192.0.2.7"),
    ]
    # against the real shipped list: a known shipped /16 is flagged
    from irstats2_spark.operators.filters import default_ip_prefixes

    prefixes = default_ip_prefixes()
    if prefixes:
        two_level = next(
            p for p in prefixes if p.count(".") == 2 and p.endswith(".")
        )
        local = two_level + "123"
        assert find_robots_ip_duplicates([local]) == [(local, two_level)]


def test_streaming_lm_quality_matches_batch_scores(spark, tmp_path):
    """lm_quality_stream: per-row fold over broadcast model maps must be
    bit-identical to the batch bigram-LM scorer on the same docs."""
    import json

    from irstats2_spark.pipeline.textstats import lm_nll_scores
    from irstats2_spark.pipeline.streams import lm_quality_stream

    ref = spark.createDataFrame(
        [("the cat sat on the mat and the cat ran",)], "text string"
    )
    texts = [
        "the cat sat on the mat",
        "zx qv jj kk wq pp zz xx yy",
        "one",
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
    # uniform unseen-bigram NLL here is ln(V)=ln(7)~1.946; the cut at
    # 1.7 separates reference-like (~1.42) from all-unseen gibberish
    out = lm_quality_stream(stream, ref, max_avg_nll=1.7)
    q = (
        out.writeStream.format("memory")
        .queryName("lmq_stream_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: (r.n_bigrams, r.nll_micro, r.avg_nll, r.quality_fail)
        for r in spark.sql(
            "SELECT doc_id, n_bigrams, nll_micro, avg_nll, quality_fail"
            " FROM lmq_stream_out"
        ).collect()
    }
    batch_docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    expect = {
        r.doc_id: (r.n_bigrams, r.nll_micro, r.avg_nll)
        for r in lm_nll_scores(batch_docs, ref).collect()
    }
    assert len(got) == 3
    for i in range(3):
        assert got[i][:3] == expect[i], i
    assert got[0][3] is False        # reference-like: passes
    assert got[1][3] is True         # gibberish: fails
    assert got[2][3] is False        # unscorable: passes (cannot judge)


def test_streaming_corpus_ingest_accumulates_and_dedups(spark, tmp_path):
    """start_corpus_stream: two incremental runs — run 2 must skip docs
    whose hashes run 1 already wrote, dedup within its own batch, gate
    short docs, and grow corpus + snapshot together."""
    import json

    from irstats2_spark.pipeline.streams import start_corpus_stream

    src = tmp_path / "in"
    src.mkdir()
    out = tmp_path / "corpus_root"
    ck = tmp_path / "ck"

    def write_batch(name, rows):
        (src / name).write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    def run():
        docs = (
            spark.readStream.schema("doc_id long, ts string, text string")
            .json(str(src))
            .withColumn("ts", F.to_timestamp("ts"))
        )
        q = start_corpus_stream(docs, str(out), str(ck), min_tokens=3)
        q.awaitTermination(120)

    long1 = "a genuinely long document body here"
    long2 = "another long and different body text"
    write_batch("b1.json", [
        {"doc_id": 1, "ts": "2024-01-01T00:00:00Z", "text": long1},
        {"doc_id": 2, "ts": "2024-01-01T00:01:00Z", "text": long1},  # batch dup
        {"doc_id": 3, "ts": "2024-01-01T00:02:00Z", "text": "too short"},
    ])
    run()
    corpus = spark.read.parquet(str(out / "corpus"))
    assert sorted(r.doc_id for r in corpus.collect()) == [1]

    write_batch("b2.json", [
        {"doc_id": 4, "ts": "2024-01-02T00:00:00Z", "text": long1},  # historical dup
        {"doc_id": 5, "ts": "2024-01-02T00:01:00Z", "text": long2},  # fresh
    ])
    run()
    corpus = spark.read.parquet(str(out / "corpus"))
    assert sorted(r.doc_id for r in corpus.collect()) == [1, 5]
    hashes = spark.read.parquet(str(out / "seen_hashes"))
    assert hashes.distinct().count() == 2


def test_replicate_stream_matches_batch(spark, tmp_path):
    """replicate_stream: fractional-epoch upsampling on a live stream
    must emit exactly the batch operator's (doc_id, copy_idx) multiset —
    the stream-static rates join + per-row explode is stateless, so the
    twin is bit-identical, including rates past 1 (every doc at 2.3
    appears 2 or 3 times in the STREAM output)."""
    import json

    from irstats2_spark.pipeline.sampling import replicate_by_rates
    from irstats2_spark.pipeline.streams import replicate_stream

    rows = [
        {"doc_id": i, "ts": f"2024-01-01T00:00:{i:02d}Z",
         "source": "small" if i < 10 else "big"}
        for i in range(30)
    ]
    src = tmp_path / "docs"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    rates = spark.createDataFrame(
        [("small", 2.3), ("big", 0.4)], "source string, rate double"
    )
    stream = (
        spark.readStream.schema("doc_id long, ts string, source string")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = replicate_stream(stream, rates, "source", "doc_id")
    q = (
        out.writeStream.format("memory")
        .queryName("replicate_stream_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.doc_id, r.copy_idx)
        for r in spark.sql(
            "SELECT doc_id, copy_idx FROM replicate_stream_out"
        ).collect()
    )
    batch_docs = spark.createDataFrame(
        [(r["doc_id"], r["source"]) for r in rows], "doc_id long, source string"
    )
    want = sorted(
        (r.doc_id, r.copy_idx)
        for r in replicate_by_rates(
            batch_docs, rates, "source", "doc_id"
        ).collect()
    )
    assert got == want
    # upsampling actually happened in the stream
    assert len([1 for d, c in got if c >= 1]) >= 10


def test_streaming_corpus_ingest_replay_is_idempotent(spark, tmp_path):
    """Crash-replay safety: foreachBatch is at-least-once, so the sink
    must be idempotent. Simulate a failure AFTER the corpus write but
    BEFORE the hash write (the worst interleaving: the replayed batch
    must not anti-join itself away against its own partial output, nor
    append a second copy): delete the checkpoint commit marker + the
    hash dir and restart — the replayed batch overwrites its own
    ``batch_id=0`` dirs and the corpus still holds exactly one copy.
    (Replay is simulated with a FRESH checkpoint over the same source
    files — identical offsets => identical batch 0 — because Spark 4's
    checkpoint concurrency guard refuses a commit log mutated behind
    its back.)"""
    import json
    import shutil

    from irstats2_spark.pipeline.streams import start_corpus_stream

    src = tmp_path / "in"
    src.mkdir()
    out = tmp_path / "corpus_root"
    ck = tmp_path / "ck"
    ck2 = tmp_path / "ck_replay"

    (src / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 1, "ts": "2024-01-01T00:00:00Z",
                 "text": "a genuinely long document body here"},
                {"doc_id": 2, "ts": "2024-01-01T00:01:00Z",
                 "text": "another long and different body text"},
            ]
        )
        + "\n"
    )

    def run(checkpoint):
        docs = (
            spark.readStream.schema("doc_id long, ts string, text string")
            .json(str(src))
            .withColumn("ts", F.to_timestamp("ts"))
        )
        q = start_corpus_stream(docs, str(out), str(checkpoint), min_tokens=3)
        q.awaitTermination(120)

    run(ck)
    corpus = spark.read.parquet(str(out / "corpus"))
    assert sorted(r.doc_id for r in corpus.collect()) == [1, 2]

    # simulate the partial failure: batch 0 wrote corpus/ but "crashed"
    # before the hash write — then batch 0 replays (fresh checkpoint,
    # same source files => same rows, same batch_id 0)
    shutil.rmtree(out / "seen_hashes")
    run(ck2)
    corpus = spark.read.parquet(str(out / "corpus"))
    assert sorted(r.doc_id for r in corpus.collect()) == [1, 2]  # no dups
    hashes = spark.read.parquet(str(out / "seen_hashes"))
    assert hashes.select("text_hash").distinct().count() == 2

    # and a replay where BOTH writes landed before the crash (worst
    # case for self-anti-join): everything already on disk, replay again
    run(tmp_path / "ck_replay2")
    corpus = spark.read.parquet(str(out / "corpus"))
    assert sorted(r.doc_id for r in corpus.collect()) == [1, 2]


def test_write_corpus_shards_roundtrip_verifies(spark, tmp_path):
    """write_corpus_shards: reading the shard files back and recomputing
    the manifest must reproduce the written manifest exactly (the
    consumer's download-verification protocol), and every doc lands in
    its manifest shard."""
    from irstats2_spark.pipeline.curate import shard_manifest
    from irstats2_spark.pipeline.layout import write_corpus_shards

    docs = spark.createDataFrame(
        [(i, f"document body number {i}") for i in range(60)],
        "doc_id long, text string",
    )
    written = {
        r.shard: (r.n_docs, r.n_tokens, r.content_checksum)
        for r in write_corpus_shards(docs, str(tmp_path), n_shards=4).collect()
    }
    back = spark.read.parquet(str(tmp_path / "shards"))
    assert back.count() == 60
    recomputed = {
        r.shard: (r.n_docs, r.n_tokens, r.content_checksum)
        for r in shard_manifest(
            back.drop("shard"), n_shards=4
        ).collect()
    }
    assert recomputed == written
    # stored partition column agrees with the manifest assignment
    from irstats2_spark.pipeline.sampling import hash_bucket

    mismatch = back.filter(
        F.col("shard") != hash_bucket(F.col("doc_id"), 4, "shard:").cast("int")
    )
    assert mismatch.count() == 0


def test_simhash_doc_stream_matches_batch_incremental(spark, tmp_path):
    """simhash_doc_stream: cross pairs flagged on the stream must equal
    the batch incremental operator's (old, new, hamming) set — both run
    the same signature map + banded join + exact Hamming verify, the
    stream only adding the watermark pair-dedup."""
    import json

    from irstats2_spark.pipeline.dedup import (
        simhash64,
        simhash_hamming_incremental,
    )
    from irstats2_spark.pipeline.streams import simhash_doc_stream

    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away to the hills")
    old_rows = [
        (1, base),
        (2, base + " tonight"),
        (3, "completely different text about gardening soil and seeds"),
    ]
    new_rows = [
        {"doc_id": 10, "ts": "2024-01-01T00:00:00Z", "text": base},
        {"doc_id": 11, "ts": "2024-01-01T00:01:00Z",
         "text": base + " tonight maybe"},
        {"doc_id": 12, "ts": "2024-01-01T00:02:00Z",
         "text": "unrelated quarterly finance report with numbers"},
    ]
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    old_sigs = simhash64(old)

    src = tmp_path / "docs"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(json.dumps(r) for r in new_rows) + "\n"
    )
    stream = (
        spark.readStream.schema("doc_id long, ts string, text string")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = simhash_doc_stream(stream, old_sigs)
    q = (
        out.writeStream.format("memory")
        .queryName("simhash_stream_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.old_id, r.new_id): r.hamming
        for r in spark.sql(
            "SELECT old_id, new_id, hamming FROM simhash_stream_out"
        ).collect()
    }
    new_batch = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in new_rows], "doc_id long, text string"
    )
    want = {
        (r.old_id, r.new_id): r.hamming
        for r in simhash_hamming_incremental(new_batch, old_sigs).collect()
    }
    assert got == want
    assert (1, 10) in got and got[(1, 10)] == 0  # exact dup crosses over


def test_clean_chunks_stream_matches_batch_rewrite(spark, tmp_path):
    """clean_chunks_stream: stripping a known boilerplate set from a live
    stream must equal (a) the row-local batch form on the same rows and
    (b) the full mine-and-rewrite batch operator when the listed set IS
    the corpus' own mined set — the mine-nightly/clean-on-arrival
    contract. Also pins the zero-state claim: the rewrite runs append-
    mode with no watermark."""
    import json

    from irstats2_spark.pipeline.textstats import (
        corpus_frequent_chunks,
        remove_corpus_frequent_chunks,
        remove_listed_chunks,
    )
    from irstats2_spark.pipeline.streams import clean_chunks_stream

    boiler = " ".join(f"b{i}" for i in range(4))
    rows = [
        {"doc_id": 1, "text": f"{boiler} one unique tail here"},
        {"doc_id": 2, "text": f"{boiler} another different tail text"},
        {"doc_id": 3, "text": f"{boiler} {boiler}"},
        {"doc_id": 4, "text": "completely fresh standalone document body"},
        {"doc_id": 5, "text": "   "},
    ]
    batch_docs = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], "doc_id int, text string"
    )
    hashes = [
        r.chunk_hash
        for r in corpus_frequent_chunks(batch_docs, chunk_tokens=4, min_docs=2)
        .select("chunk_hash")
        .collect()
    ]
    assert hashes  # the boilerplate chunk was mined

    src = tmp_path / "docs"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    stream = spark.readStream.schema("doc_id int, text string").json(str(src))
    out = clean_chunks_stream(stream, hashes, chunk_tokens=4)
    q = (
        out.writeStream.format("memory")
        .queryName("clean_chunks_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM clean_chunks_out").collect())
    )
    # (a) == row-local batch form
    want = sorted(
        map(tuple, remove_listed_chunks(batch_docs, hashes, chunk_tokens=4).collect())
    )
    assert got == want
    # (b) == the full mine-and-rewrite operator on the same corpus
    full = sorted(
        map(
            tuple,
            remove_corpus_frequent_chunks(
                batch_docs, chunk_tokens=4, min_docs=2
            ).collect(),
        )
    )
    assert got == full
    # the stream really rewrote: doc 3 went all-boilerplate -> empty
    by_id = {t[0]: t for t in got}
    assert by_id[3][1:] == (2, 0, "")
    assert by_id[5][1:] == (0, 0, "")


def test_winnow_doc_stream_matches_batch_incremental(spark, tmp_path):
    """winnow_doc_stream: MOSS matching of a live stream against the
    fingerprint snapshot must emit exactly the batch incremental
    operator's (old_id, new_id, n_shared) set — the row-local
    array_intersect verify equals the batch groupBy count because both
    sides are distinct fp sets. Also pins the winnowing guarantee
    end-to-end in the stream: the shared 7-token run is flagged even
    though it sits at different offsets."""
    import json

    from irstats2_spark.pipeline.dedup import winnow_incremental
    from irstats2_spark.pipeline.textstats import winnow_fingerprints
    from irstats2_spark.pipeline.streams import winnow_doc_stream

    run = "s1 s2 s3 s4 s5 s6 s7"
    old_rows = [
        (1, f"u1 u2 u3 u4 u5 {run} u6 u7"),
        (2, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
    ]
    new_rows = [
        {"doc_id": 10, "ts": "2024-01-01T00:00:01Z",
         "text": f"v1 {run} v2 v3 v4 v5"},  # shares the run with doc 1
        {"doc_id": 11, "ts": "2024-01-01T00:00:02Z",
         "text": "x1 x2 x3 x4 x5 x6 x7 x8"},  # shares nothing
    ]
    old_docs = spark.createDataFrame(old_rows, "doc_id int, text string")
    snapshot = winnow_fingerprints(old_docs, k=4, window=4)

    src = tmp_path / "docs"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(json.dumps(r) for r in new_rows) + "\n"
    )
    stream = (
        spark.readStream.schema("doc_id int, ts string, text string")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = winnow_doc_stream(stream, snapshot, k=4, window=4, min_shared=1)
    q = (
        out.writeStream.format("memory")
        .queryName("winnow_stream_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.old_id, r.new_id, r.n_shared)
        for r in spark.sql(
            "SELECT old_id, new_id, n_shared FROM winnow_stream_out"
        ).collect()
    )
    new_docs = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in new_rows], "doc_id int, text string"
    )
    want = sorted(
        (r.old_id, r.new_id, r.n_shared)
        for r in winnow_incremental(
            new_docs, snapshot, k=4, window=4, min_shared=1
        ).collect()
    )
    assert got == want
    assert [(o, n) for o, n, _ in got] == [(1, 10)]


def test_quality_gate_stream_matches_batch(spark, tmp_path):
    """quality_gate_stream: the rule gate on a live stream emits exactly
    the batch operator's per-doc verdict rows (stateless composite
    expression — the twin IS the batch path), including a failing and a
    passing doc."""
    import json

    from irstats2_spark.pipeline.textstats import gopher_quality_gate
    from irstats2_spark.pipeline.streams import quality_gate_stream

    rows = [
        {"doc_id": 1, "text": "the and of to in is a " * 10},  # passes floor
        {"doc_id": 2, "text": "x"},  # too short
        {"doc_id": 3, "text": "the quick brown fox jumps over lazy dog " * 8},
    ]
    src = tmp_path / "docs"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    stream = spark.readStream.schema("doc_id int, text string").json(str(src))
    out = quality_gate_stream(stream, min_tokens=5)
    q = (
        out.writeStream.format("memory")
        .queryName("quality_gate_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM quality_gate_out").collect()))
    batch_docs = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], "doc_id int, text string"
    )
    want = sorted(
        map(tuple, gopher_quality_gate(batch_docs, min_tokens=5).collect())
    )
    assert got == want
    verdicts = {t[0]: t for t in got}
    assert len(verdicts) == 3 and not any(v is None for v in verdicts[2])


def test_edit_distance_doc_stream_matches_batch_incremental(spark, tmp_path):
    """edit_distance_doc_stream: flagged cross pairs (with distances)
    must equal edit_distance_incremental's output — same winnowing candidates,
    same old-text hydration, same integer-exact norm cut; the stream
    only adds the watermark pair-dedup."""
    import json

    from irstats2_spark.pipeline.dedup import edit_distance_incremental
    from irstats2_spark.pipeline.textstats import winnow_fingerprints
    from irstats2_spark.pipeline.streams import edit_distance_doc_stream

    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away to the hills")
    old_rows = [
        (1, base),
        (2, base + " tonight"),
        (3, "completely different text about gardening soil and seeds"),
    ]
    new_rows = [
        {"doc_id": 10, "ts": "2024-01-01T00:00:00Z", "text": base},
        {"doc_id": 11, "ts": "2024-01-01T00:01:00Z",
         "text": base + " tonight maybe"},
        {"doc_id": 12, "ts": "2024-01-01T00:02:00Z",
         "text": "unrelated quarterly finance report with numbers"},
    ]
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    old_fps = winnow_fingerprints(old, k=4, window=4)

    src = tmp_path / "docs"
    src.mkdir()
    (src / "b1.json").write_text(
        "\n".join(json.dumps(r) for r in new_rows) + "\n"
    )
    stream = (
        spark.readStream.schema("doc_id long, ts string, text string")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = edit_distance_doc_stream(stream, old_fps, old)
    q = (
        out.writeStream.format("memory")
        .queryName("editdist_stream_out")
        .option("checkpointLocation", str(tmp_path / "ck_ed"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.old_id, r.new_id): (r.n_shared, r.edit_distance, r.edit_norm)
        for r in spark.sql(
            "SELECT old_id, new_id, n_shared, edit_distance, edit_norm "
            "FROM editdist_stream_out"
        ).collect()
    }
    new_batch = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in new_rows],
        "doc_id long, text string",
    )
    want = {
        (r.old_id, r.new_id): (r.n_shared, r.edit_distance, r.edit_norm)
        for r in edit_distance_incremental(
            new_batch, old_fps, old
        ).collect()
    }
    assert got == want
    assert (1, 10) in got and got[(1, 10)][1] == 0  # exact copy
    assert (3, 12) not in got


def test_fact_stream_corrupt_existing_table_raises(spark, tmp_path):
    """A corrupt/unreadable EXISTING fact table must fail the stream, not
    be silently treated as "first batch" — the old catch-all would have
    dropped the merge and overwritten good partitions with the micro-batch
    alone (same defect class as start_corpus_stream's fixed hash read)."""
    from pyspark.errors.exceptions.base import PySparkException
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from irstats2_spark.streaming.ingest import (
        read_access_stream,
        start_fact_stream,
    )

    logs = tmp_path / "current"
    logs.mkdir()
    ts = dt.datetime(2024, 1, 1, 12, 0, 0)
    line = "\t".join(
        [
            ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
            "10.0.0.1",
            "Mozilla/5.0 Chrome/1",
            "",
            "?fulltext=yes",
            "1",
            "100",
        ]
    )
    (logs / "2024-01-01.log").write_text(line + "\n")

    out = tmp_path / "gold"
    fact_dir = out / "fact_downloads"
    fact_dir.mkdir(parents=True)
    # a present-but-garbage table: parquet-suffixed junk bytes
    (fact_dir / "part-00000.parquet").write_bytes(b"this is not parquet")

    q = start_fact_stream(
        read_access_stream(spark, str(logs)), str(out), str(tmp_path / "ck")
    )
    with pytest.raises((StreamingQueryException, PySparkException)):
        q.awaitTermination(120)
    # the junk file must be untouched — no partial overwrite happened
    assert (fact_dir / "part-00000.parquet").read_bytes() == b"this is not parquet"


def test_streaming_substring_match_probes_suffix_snapshot(spark, tmp_path):
    """substring_match_stream: the streaming twin of the suffix-array
    family — stream docs sharing an exact >= min_len-token run with the
    stored suffix_windows snapshot are flagged; clean docs are not; and
    n_shared_windows equals the batch formula (distinct shared
    min_len-windows) computed over the same data."""
    import json

    from irstats2_spark.pipeline.suffix import suffix_windows
    from irstats2_spark.pipeline.streams import substring_match_stream

    passage = "w1 w2 w3 w4 w5 w6 w7"  # 7 tokens; min_len=5 -> 3 windows
    old_docs = spark.createDataFrame(
        [
            (10, f"old intro {passage} old tail"),
            (11, "historical corpus text with nothing shared at all"),
        ],
        "doc_id long, text string",
    )
    snap = suffix_windows(old_docs, max_span=12)

    src = tmp_path / "docs"
    src.mkdir()
    rows = [
        # contains the full passage at a different offset
        {"doc_id": 1, "ts": "2024-01-01T00:00:00Z",
         "text": f"fresh lead {passage}"},
        # clean
        {"doc_id": 2, "ts": "2024-01-01T00:01:00Z",
         "text": "a totally unrelated new document streaming through"},
        # shares only the first 5 tokens of the passage (1 window)
        {"doc_id": 3, "ts": "2024-01-01T00:02:00Z",
         "text": "x y w1 w2 w3 w4 w5 z"},
    ]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    docs = (
        spark.readStream.schema("doc_id long, ts string, text string")
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = substring_match_stream(docs, snap, min_len=5, watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("substring_match_out")
        .option("checkpointLocation", str(tmp_path / "ck_ssm"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.old_id, r.new_id): r.n_shared_windows
        for r in spark.sql("SELECT * FROM substring_match_out").collect()
    }
    # passage has 3 distinct 5-token windows; doc 3 shares exactly 1
    assert got == {(10, 1): 3, (10, 3): 1}, got

    # the misconfiguration guard: probing above the snapshot's build
    # span would silently flag nothing — assert instead
    with pytest.raises(AssertionError, match="build span"):
        substring_match_stream(docs, snap, min_len=13, snapshot_span=12)


def test_remove_spans_stream_matches_batch_incremental(spark, tmp_path):
    """remove_spans_stream: docs cleaned on arrival against the stored
    gram snapshot must match the nightly batch incremental on the same
    data (the stream scopes to snapshot membership, so the pin uses a
    batch with no within-batch duplicates); the min_len stamp guard
    raises on mismatch."""
    import json

    from irstats2_spark.pipeline.suffix import (
        remove_repeated_spans_incremental,
        write_gram_snapshot,
    )
    from irstats2_spark.pipeline.streams import remove_spans_stream

    passage = "p1 p2 p3 p4 p5 p6 p7"
    old_docs = spark.createDataFrame(
        [
            (10, f"old intro {passage} old tail"),
            (11, "historical corpus text with nothing shared at all"),
        ],
        "doc_id long, text string",
    )
    snap_path = str(tmp_path / "gram_snap")
    write_gram_snapshot(old_docs, snap_path, min_len=5)
    snap = spark.read.parquet(snap_path)

    rows = [
        {"doc_id": 1, "ts": "2024-01-01T00:00:00Z",
         "text": f"fresh lead {passage} fresh tail"},
        {"doc_id": 2, "ts": "2024-01-01T00:01:00Z",
         "text": "a totally unrelated new document streaming through"},
        {"doc_id": 3, "ts": "2024-01-01T00:02:00Z",
         "text": "x y p1 p2 p3 p4 p5 z"},
        {"doc_id": 4, "ts": "2024-01-01T00:03:00Z", "text": "tiny"},
    ]
    src = tmp_path / "docs"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    stream = (
        spark.readStream.schema("doc_id long, ts string, text string")
        .json(str(src))
    )
    out = remove_spans_stream(stream, snap, min_len=5)
    q = (
        out.writeStream.format("memory")
        .queryName("remove_spans_out")
        .option("checkpointLocation", str(tmp_path / "ck_rss"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: (r.n_tokens, r.removed_tokens, r.text_clean)
        for r in spark.sql("SELECT * FROM remove_spans_out").collect()
    }
    batch = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], "doc_id long, text string"
    )
    want = {
        r.doc_id: (r.n_tokens, r.removed_tokens, r.text_clean)
        for r in remove_repeated_spans_incremental(
            batch, snap, min_len=5
        ).collect()
    }
    assert got == want, (got, want)
    # the streamed copy of the shared passage is gone, prose survives
    assert got[1] == (11, 7, "fresh lead fresh tail")
    assert got[2][1] == 0 and got[4] == (1, 0, "tiny")

    with pytest.raises(ValueError, match="min_len=5"):
        remove_spans_stream(stream, snap, min_len=6)

    # the smallness contract is a guard, not prose (r9 verdict #5): a
    # snapshot past max_snapshot_grams raises toward the foreachBatch
    # incremental path instead of silently building an over-budget
    # broadcast row; None lifts it explicitly
    with pytest.raises(ValueError, match="max_snapshot_grams=1"):
        remove_spans_stream(stream, snap, min_len=5, max_snapshot_grams=1)
    lifted = remove_spans_stream(
        stream, snap, min_len=5, max_snapshot_grams=None
    )
    assert lifted.isStreaming
