"""End-to-end ETL tests: TSV access log -> silver -> facts -> Context
queries, on a synthetic fixture mirroring the reference's own generator
(bin/stats/import_test_stat_data — SURVEY §5)."""

from __future__ import annotations

import datetime as dt
import gzip
import random

import pytest
from pyspark.sql import functions as F

from irstats2_spark.etl.pipeline import build_silver_events, build_store
from irstats2_spark.plans.builder import compile_context, sum_all
from irstats2_spark.plans.context import Context
from irstats2_spark.sources.access_log import read_access_logs, with_event_columns

UAS = [
    "Mozilla/5.0 (Windows NT 10.0) Chrome/99.0 Safari/537.36",
    "Mozilla/5.0 (X11; Linux) Firefox/115.0",
    "Googlebot/2.1 (+http://www.google.com/bot.html)",
    "msnbot/1.0",
    "Opera/9.80 (Windows NT 6.1)",
]
REFERRERS = [
    "",
    "http://www.google.com/search?q=alpha+beta",
    "http://search.yahoo.com/search?p=gamma",
    "http://www.bing.com/search?q=delta",
    "http://unknown-host.net/page",
    "http://myrepo.org/cgi/search/simple?q=epsilon+zeta",
    "12345",
]


def make_log_lines(n=500, seed=3):
    rng = random.Random(seed)
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    lines = []
    for i in range(n):
        ts = t0 + dt.timedelta(seconds=rng.randint(0, 86400 * 30))
        is_dl = rng.random() < 0.5
        epid = rng.randint(1, 20)
        docid = str(rng.randint(100, 120)) if is_dl else ""
        line = "\t".join(
            [
                ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                f"10.0.{rng.randint(0, 5)}.{rng.randint(1, 9)}",
                rng.choice(UAS),
                rng.choice(REFERRERS),
                "?fulltext=yes" if is_dl else "?abstract=yes",
                str(epid),
                docid,
            ]
        )
        lines.append(line)
    return lines


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("access")
    lines = make_log_lines()
    # duplicates (exact-line dedup test) + malformed lines
    content = lines + lines[:25] + ["garbage line", "2024-13-99Tnot-a-date\tx"]
    (d / "2024-01-15.log").write_text("\n".join(content) + "\n")
    with gzip.open(d / "2024-01-16.log.gz", "wt") as fh:
        fh.write("\n".join(make_log_lines(100, seed=9)) + "\n")
    return str(d)


def test_parse_and_dedup(spark, log_dir):
    ev = read_access_logs(spark, log_dir + "/*")
    n = ev.count()
    assert n == 600  # 500 + 100; dups and malformed dropped
    assert ev.schema["datestamp"].dataType.typeName() == "timestamp"
    # is_download flag equivalence: docid set <=> download
    ev2 = with_event_columns(ev)
    assert (
        ev2.filter(F.col("is_download") != F.col("referent_docid").isNotNull()).count()
        == 0
    )


@pytest.fixture(scope="module")
def store(spark, log_dir):
    ev = read_access_logs(spark, log_dir + "/*")
    silver = build_silver_events(ev)
    eprints = spark.createDataFrame(
        [
            (
                i,
                "archive" if i % 4 else "buffer",
                dt.datetime(2023, 12, 1),
                dt.datetime(2023, 12, 2),
                "article" if i % 2 else "book",
                [f"div{i % 3}"],
                [f"subj{i % 2 + 1}"],
                [
                    {"name": {"family": f"FAM{i}", "given": "ANNE"}, "id": f"a{i}@x.org"},
                ],
                "public",
            )
            for i in range(1, 21)
        ],
        "eprintid int, eprint_status string, datestamp timestamp, lastmod timestamp, "
        "type string, divisions array<string>, subjects array<string>, "
        "creators array<struct<name:struct<family:string,given:string>,id:string>>, "
        "full_text_status string",
    )
    subjects = spark.createDataFrame(
        [
            ("root", None, False, "Root"),
            ("subj1", "root", True, "Subject One"),
            ("subj2", "root", True, "Subject Two"),
        ],
        "subjectid string, parent string, can_post boolean, name string",
    )
    documents = spark.createDataFrame(
        [(100 + i, (i % 20) + 1, "application/pdf" if i % 2 else "text/html", i % 3 == 0) for i in range(21)],
        "docid int, eprintid int, format string, is_public boolean",
    )
    return build_store(
        silver,
        eprints=eprints,
        documents=documents,
        subjects=subjects,
        host="myrepo.org",
        base_url="myrepo.org",
    )


def test_facts_shapes(store):
    for name, df in store.facts.items():
        cols = df.columns
        assert cols == ["eprintid", "datestamp", "value", "count"], name


def test_robots_removed(store):
    # no robot UA should survive into browsers fact values
    vals = {r.value for r in store.facts["browsers"].select("value").distinct().collect()}
    assert vals <= {"Google Chrome", "Firefox", "Opera", "Other"}


def test_referrer_values(store):
    vals = {r.value for r in store.facts["referrer"].select("value").distinct().collect()}
    assert "Google" in vals
    assert "Internal (Search)" in vals  # own-host simple search
    assert "Internal (Abstract page)" in vals  # bare-number referrer
    assert "unknown-host.net" in vals


def test_search_terms_values(store):
    vals = {r.value for r in store.facts["search_terms"].select("value").distinct().collect()}
    # google q-param words + internal simple-search words present
    assert {"alpha", "beta", "epsilon", "zeta"} <= vals
    # yahoo uses p
    assert "gamma" in vals


def test_context_whole_repo_counts(store):
    df = compile_context(store, Context(datatype="downloads", range="_ALL_"))
    # an undated total is the plain sum over the daily fact
    total = df.head()["count"]
    expected = (
        store.facts["downloads"].agg(F.sum("count").alias("s")).head().s
    )
    assert total == expected


def test_context_set_query(store):
    df = compile_context(
        store,
        Context(datatype="downloads", range="_ALL_", set_name="divisions"),
    )
    rows = {r.set_value: r["count"] for r in df.collect()}
    assert set(rows) <= {"div0", "div1", "div2"}
    assert sum(rows.values()) > 0


def test_context_grouping_query(store):
    df = compile_context(
        store,
        Context(
            datatype="downloads",
            range="_ALL_",
            set_name="divisions",
            set_value="div1",
            grouping="type",
        ),
    )
    rows = df.collect()
    assert all(r.grouping_value in ("article", "book") for r in rows)


def test_context_grouping_self_rejected(store):
    with pytest.raises(ValueError):
        compile_context(
            store,
            Context(set_name="divisions", set_value="x", grouping="divisions"),
        )


def test_search_terms_builds_without_spark_jobs(spark, log_dir):
    """The search_terms processor is lazy: building it over silver (hash-
    partitioned by the repeat filter) must not probe the partitioning."""
    import uuid

    from irstats2_spark.etl import processors as P

    silver = build_silver_events(read_access_logs(spark, log_dir + "/*"))
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        P.search_terms(silver)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_countries_processor_locates_by_range(spark):
    """Country.pm:75-105: downloads with a requester IP inside a GeoIP
    range count for that range's country, a range spanning several /8
    prefixes included; unlocated, malformed and non-download rows drop."""
    from irstats2_spark.etl import processors as P

    ranges = spark.createDataFrame(
        [
            (167772160, 167772415, "US"),  # 10.0.0.0 - 10.0.0.255
            (167772416, 167772671, "DE"),  # 10.0.1.0 - 10.0.1.255
            (167837696, 218103807, "JP"),  # 10.1.0.0 - 12.255.255.255
        ],
        "ip_start_long long, ip_end_long long, country_iso2 string",
    )
    events = spark.createDataFrame(
        [
            (1, "10.0.0.7", True, 20240101),
            (1, "10.0.0.9", True, 20240101),
            (2, "10.0.1.1", True, 20240101),
            (2, "11.5.6.7", True, 20240102),
            (3, "12.255.255.255", True, 20240102),
            (3, "9.9.9.9", True, 20240102),  # in no range
            (3, "not.an.ip", True, 20240102),
            (3, "10.0.0.1", False, 20240102),  # not a download
            (None, "10.0.0.1", True, 20240102),
        ],
        "referent_id int, requester_id string, is_download boolean, date_key int",
    )
    got = {tuple(r) for r in P.countries(events, ranges).collect()}
    assert got == {
        (1, 20240101, "US", 2),
        (2, 20240101, "DE", 1),
        (2, 20240102, "JP", 1),
        (3, 20240102, "JP", 1),
    }


def test_subject_closure_runs_one_spark_job(spark, tmp_path):
    """F9 over a 4-level chain (plus a 2-cycle, which must still end):
    one job reads the subject table, whatever the tree depth."""
    import uuid

    from irstats2_spark.etl.sets import subject_closure

    path = str(tmp_path / "subjects")
    spark.createDataFrame(
        [("a", None), ("b", "a"), ("c", "b"), ("d", "c"), ("x", "y"), ("y", "x")],
        "subjectid string, parent string",
    ).write.parquet(path)
    subjects = spark.read.parquet(path)
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        closure = subject_closure(subjects)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert closure.columns == ["subjectid", "ancestor"]
    assert sorted(tuple(r) for r in closure.collect()) == [
        ("a", "a"),
        ("b", "a"), ("b", "b"),
        ("c", "a"), ("c", "b"), ("c", "c"),
        ("d", "a"), ("d", "b"), ("d", "c"), ("d", "d"),
        ("x", "x"), ("x", "y"),
        ("y", "x"), ("y", "y"),
    ]


def test_context_single_eprint_live_clamp(store):
    # eprint live date is 2023-12-01, events are 2024-01 => unaffected
    df = compile_context(
        store,
        Context(datatype="downloads", set_name="eprint", set_value="5", range="_ALL_"),
        ("datestamp",),
    )
    assert df.count() >= 0
    fact_direct = (
        store.facts["downloads"].filter(F.col("eprintid") == 5).count()
    )
    assert df.count() == fact_direct


def _get(spark, store, uri, **params):
    import json

    from irstats2_spark.plans.http import handle_get

    status, _, body = handle_get(spark, store, uri, params, today=dt.date(2024, 3, 1))
    assert status == 200, body
    return json.loads(body)


@pytest.mark.parametrize("range_", [None, "_ALL_"])
def test_eprint_lifetime_counter_is_the_sum_of_its_day_graph(spark, store, range_):
    """An eprint's lifetime Counter sums the daily fact from the eprint's
    go-live date on, exactly as its day Graph does; the store holds one
    fact per datatype, no lifetime copy."""
    uri = "/cgi/stats/report/eprint/5"
    graph = _get(spark, store, uri, view="Graph", datatype="downloads", range="_ALL_")
    total = sum(r["count"] for r in graph)
    assert total > 0
    params = {"view": "Counter", "datatype": "downloads"}
    if range_ is not None:
        params["range"] = range_
    assert _get(spark, store, uri, **params) == [{"count": total}]
    assert not [d for d in store.facts if d.startswith("cache_")]


def test_table_limit_all_is_ranked_by_count_then_key(spark, store):
    """``limit=all`` lifts only the limit (O3): the rows stay ranked by
    count, highest first, ties by eprintid."""
    rows = _get(
        spark, store, "/cgi/stats/report", view="Table", datatype="views", limit="all"
    )
    ranked = [(-r["count"], r["eprintid"]) for r in rows]
    assert len(ranked) > 10
    assert ranked == sorted(ranked)


def test_sum_all(store):
    df = compile_context(
        store, Context(datatype="views", range="_ALL_"), ("eprintid",)
    )
    total = sum_all(df).head()["count"]
    expected = store.facts["views"].agg(F.sum("count").alias("s")).head().s
    assert total == expected


def test_doc_access_values(store):
    vals = {r.value for r in store.facts["doc_access"].select("value").distinct().collect()}
    assert vals <= {"full_text", "no_full_text", "open_access", "no_open_access"}


def test_dimensions(store):
    sets = {r.set_name for r in store.sets.select("set_name").distinct().collect()}
    assert sets == {"divisions", "subjects", "type", "authors"}
    # authors are anonymized => md5 hex keys
    a = store.sets.filter(F.col("set_name") == "authors").head()
    assert len(a.set_value) == 32
    # subject ancestor roll-up: root not postable and not whitelisted =>
    # only leaf subjects present
    subj_vals = {
        r.set_value
        for r in store.sets.filter(F.col("set_name") == "subjects").collect()
    }
    assert subj_vals == {"subj1", "subj2"}
    # rendered values carry name-cased author display
    r = store.rendered.filter(F.col("set_name") == "authors").head()
    assert ", " in r.rendered_set_value


def test_context_unknown_field_warned_and_skipped(store, caplog):
    """P2 (Handler.pm:290-293): an unknown requested field is skipped with
    a warning, not an error."""
    import logging

    from irstats2_spark.plans.builder import compile_context
    from irstats2_spark.plans.context import Context

    with caplog.at_level(logging.WARNING, "irstats2_spark.plans.builder"):
        out = compile_context(
            store,
            Context(datatype="downloads", range="_ALL_"),
            ("datestamp", "nonsense"),
        )
    assert "nonsense" in caplog.text
    assert out.columns == ["datestamp", "count"]


def test_retention_cohorts_matrix(spark):
    """events_retention_cohorts semantics on a hand-built event log:
    cohort = first-event week, offsets count distinct active users,
    offset 0 is always retention 1.0."""
    from irstats2_spark.queries_ext import events_retention_cohorts  # noqa: F401
    from irstats2_spark import catalog

    catalog._ensure_loaded()
    import pyspark.sql.functions as F  # noqa: F811

    rows = [
        # user 1: weeks 0 and 1; user 2: week 0 only; user 3: weeks 1, 3
        (1, "2024-01-01 10:00:00"), (1, "2024-01-09 10:00:00"),
        (2, "2024-01-02 10:00:00"),
        (3, "2024-01-10 10:00:00"), (3, "2024-01-24 10:00:00"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    import tempfile, os
    d = tempfile.mkdtemp()
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {(r.cohort_week, r.week_offset): r
           for r in catalog._REGISTRY["events_retention_cohorts"]
           .spark(spark, d).collect()}
    assert out[(0, 0)].n_users == 2 and out[(0, 0)].retention == 1.0
    assert out[(0, 1)].n_users == 1 and out[(0, 1)].cohort_size == 2
    assert out[(1, 0)].n_users == 1 and out[(1, 0)].retention == 1.0
    assert out[(1, 2)].n_users == 1
    assert set(out) == {(0, 0), (0, 1), (1, 0), (1, 2)}


def test_events_funnel_conversion_strict_order(spark, tmp_path):
    """events_funnel_conversion: type co-occurrence without the right
    ORDER does not convert; strict order does; ratios are exact."""
    from irstats2_spark import catalog
    import pyspark.sql.functions as F  # noqa: F811
    import os

    catalog._ensure_loaded()
    rows = [
        # user 1: view -> click -> purchase (full funnel)
        (1, "view", "2024-01-01 10:00:00"),
        (1, "click", "2024-01-01 10:01:00"),
        (1, "purchase", "2024-01-01 10:02:00"),
        # user 2: click BEFORE first view -> no conversion at step 2
        (2, "click", "2024-01-01 09:00:00"),
        (2, "view", "2024-01-01 10:00:00"),
        (2, "purchase", "2024-01-01 11:00:00"),
        # user 3: view -> click, purchase before click -> stops at 2
        (3, "view", "2024-01-01 08:00:00"),
        (3, "purchase", "2024-01-01 08:30:00"),
        (3, "click", "2024-01-01 09:00:00"),
        # user 4: view only
        (4, "view", "2024-01-01 07:00:00"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts string"
    ).select("user_id", "event_type", F.col("ts").cast("timestamp").alias("ts"))
    d = str(tmp_path)
    ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {r.step: r for r in catalog._REGISTRY["events_funnel_conversion"]
           .spark(spark, d).collect()}
    assert out[1].n_users == 4 and out[1].conversion is None
    assert out[2].n_users == 2            # users 1 and 3
    assert out[2].conversion == 0.5
    assert out[3].n_users == 1            # only user 1
    assert out[3].conversion == 0.5
