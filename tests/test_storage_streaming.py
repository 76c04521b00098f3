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


def test_read_fact_runs_no_job_and_keeps_the_written_shape(spark, tmp_path):
    """Opening a fact table reads its fixed schema: no Spark job infers
    one from the parquet footers, and the columns and dtypes are those
    written, partition column last. A missing table still raises."""
    import uuid

    from pyspark.errors import AnalysisException

    root = str(tmp_path)
    write_fact(_fact(spark, [(1, 20240101, "downloads", 5)]), root, "downloads")
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        got = read_fact(spark, root, "downloads")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert got.dtypes == [
        ("eprintid", "int"), ("value", "string"), ("count", "bigint"), ("datestamp", "int")
    ]
    assert [tuple(r) for r in got.collect()] == [(1, "downloads", 5, 20240101)]
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_fact(spark, root, "views")


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


def _access_line(ts: str, eprintid: int, docid: str = "", ip: str = "10.0.0.1") -> str:
    return "\t".join(
        [ts, ip, "Mozilla/5.0 Chrome/1", "",
         "?fulltext=yes" if docid else "?abstract=yes", str(eprintid), docid]
    )


def _day_lines(day: int, hours, ip: str = "10.0.0.1") -> list[str]:
    """One download and one abstract view per hour of 2024-01-<day>."""
    return [
        _access_line(f"2024-01-{day:02d}T{h:02d}:00:00Z", eprintid, docid, ip)
        for h in hours
        for eprintid, docid in ((1, "100"), (2, ""))
    ]


def _ingest(spark, logs, root):
    from irstats2_spark.streaming.ingest import read_access_stream, start_fact_stream

    q = start_fact_stream(
        read_access_stream(spark, str(logs)), str(root / "gold"), str(root / "ckpt")
    )
    q.awaitTermination(120)
    assert q.exception() is None
    return q


def _day_counts(spark, root, datatype) -> dict:
    rows = read_fact(spark, str(root / "gold"), datatype).groupBy("datestamp").agg(
        F.sum("count").alias("n")
    )
    return {r.datestamp: r.n for r in rows.collect()}


def test_fact_stream_batch_runs_six_jobs(spark, tmp_path):
    """A one-day micro-batch after the first: one action collects the
    days it touches, then per datatype one job reads the table's schema
    and one writes the merged day (plus the stream's own jobs)."""
    logs = tmp_path / "current"
    logs.mkdir()
    (logs / "d1.log").write_text("\n".join(_day_lines(1, range(8, 12))) + "\n")
    _ingest(spark, logs, tmp_path)
    (logs / "d2.log").write_text("\n".join(_day_lines(2, range(8, 12))) + "\n")
    q = _ingest(spark, logs, tmp_path)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(str(q.runId))) == 6
    assert _day_counts(spark, tmp_path, "downloads") == {20240101: 4, 20240102: 4}


def test_fact_stream_rewrites_only_the_days_a_batch_touches(spark, tmp_path):
    """A batch of day 6 plus late day-4 lines (inside the one-day
    watermark) rewrites days 4 and 6; day 5 keeps its part files."""
    logs = tmp_path / "current"
    logs.mkdir()
    first = _day_lines(4, range(10, 20)) + _day_lines(5, range(0, 18))
    (logs / "a.log").write_text("\n".join(first) + "\n")
    _ingest(spark, logs, tmp_path)

    def day_files(datatype, day):
        part = tmp_path / "gold" / f"fact_{datatype}" / f"datestamp={day}"
        return sorted(p.name for p in part.iterdir())

    before = {d: day_files(d, 20240105) for d in ("downloads", "views")}
    assert all(before.values())
    # the previous batch's newest event is 2024-01-05T17:00, so the
    # watermark is 2024-01-04T17:00 and day-4 lines from 20:00 count
    late = _day_lines(4, range(20, 23), ip="10.0.0.2") + _day_lines(6, range(0, 5))
    (logs / "b.log").write_text("\n".join(late) + "\n")
    _ingest(spark, logs, tmp_path)
    assert {d: day_files(d, 20240105) for d in ("downloads", "views")} == before
    for datatype in ("downloads", "views"):
        assert _day_counts(spark, tmp_path, datatype) == {
            20240104: 13, 20240105: 18, 20240106: 5,
        }


def test_fact_stream_drops_lines_older_than_its_watermark(spark, tmp_path):
    """Not only duplicates: a unique line older than the watermark (one
    day before the previous batch's newest event) is never counted by
    the stream. The nightly batch over the same files counts it."""
    logs = tmp_path / "current"
    logs.mkdir()
    (logs / "a.log").write_text(
        "\n".join(_day_lines(2, range(8, 12)) + _day_lines(5, range(8, 12))) + "\n"
    )
    _ingest(spark, logs, tmp_path)
    streamed = _day_counts(spark, tmp_path, "downloads")
    assert streamed == {20240102: 4, 20240105: 4}

    old = [_access_line("2024-01-02T20:00:00Z", 3, "300", ip="10.0.0.3"),
           _access_line("2024-01-02T21:00:00Z", 4, "400", ip="10.0.0.4")]
    (logs / "b.log").write_text("\n".join(_day_lines(6, range(8, 12)) + old) + "\n")
    _ingest(spark, logs, tmp_path)
    assert _day_counts(spark, tmp_path, "downloads") == {
        20240102: 4, 20240105: 4, 20240106: 4,
    }

    late = {(3, 20240102, "downloads", 1), (4, 20240102, "downloads", 1)}
    assert late <= set(_batch_cells(spark, logs)["downloads"])
    streamed = read_fact(spark, str(tmp_path / "gold"), "downloads").select(*_CELL)
    assert not late & {tuple(r) for r in streamed.collect()}


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
