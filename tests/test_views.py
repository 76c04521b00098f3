"""Tests for the view layer (graph/sparkline/compare/key-figures/listing)."""

from __future__ import annotations

import datetime as dt
import re

import pytest

from irstats2_spark.plans.builder import StatsStore
from irstats2_spark.plans.context import Context
from irstats2_spark.plans.views import (
    compare_years,
    graph_series,
    key_figures,
    set_listing,
    sparkline_series,
    valid_set_value,
)

TODAY = dt.date(2024, 4, 1)


@pytest.fixture(scope="module")
def store(spark):
    fact = spark.createDataFrame(
        [
            (1, 20240101, "downloads", 10),
            (1, 20240103, "downloads", 5),
            (2, 20240215, "downloads", 7),
            (1, 20230601, "downloads", 3),
        ],
        "eprintid int, datestamp int, value string, count long",
    )
    sets = spark.createDataFrame(
        [("divisions", "div1", 1), ("divisions", "div2", 2)],
        "set_name string, set_value string, eprintid int",
    )
    rendered = spark.createDataFrame(
        [
            ("divisions", "div1", "School of Alpha"),
            ("divisions", "div2", "School of Beta"),
        ],
        "set_name string, set_value string, rendered_set_value string",
    )
    return StatsStore(facts={"downloads": fact}, sets=sets, rendered=rendered)


def test_graph_series_densified(spark, store):
    out = graph_series(
        spark,
        store,
        Context(datatype="downloads", from_date="20240101", to_date="20240107"),
        today=TODAY,
    ).orderBy("datestamp").collect()
    assert len(out) == 7  # all 7 days present
    vals = {r.datestamp: r["count"] for r in out}
    assert vals[20240101] == 10 and vals[20240102] == 0 and vals[20240103] == 5


def test_graph_series_month_resolution_all_time(spark, store):
    out = graph_series(
        spark, store, Context(datatype="downloads", range="_ALL_"),
        resolution="month", today=TODAY,
    ).orderBy("datestamp").collect()
    months = [r.datestamp for r in out]
    # densified from 202306 to 202402 inclusive = 9 months
    assert months[0] == 202306 and months[-1] == 202402
    assert len(months) == 9
    vals = {r.datestamp: r["count"] for r in out}
    assert vals[202401] == 15 and vals[202307] == 0


def test_graph_series_cumulative(spark, store):
    out = graph_series(
        spark,
        store,
        Context(datatype="downloads", from_date="20240101", to_date="20240103"),
        cumulative=True,
        show_average=True,
        today=TODAY,
    ).orderBy("datestamp").collect()
    assert [r.cumulative for r in out] == [10, 10, 15]
    assert [r.running_avg for r in out] == [10, 5, 5]


def test_sparkline_trims_and_descends(spark, store):
    out = sparkline_series(
        spark, store, Context(datatype="downloads"), today=dt.date(2024, 3, 1)
    ).collect()
    # 6m window back from 2024-02-29; leading zeros before 2024-01-01 trimmed
    assert out[-1].datestamp == 20240101
    assert out[0].datestamp == 20240229
    assert out[0]["count"] == 0


def test_compare_years(spark, store):
    out = {
        (r.year, r.month): r["count"]
        for r in compare_years(spark, store, Context(datatype="downloads"), today=TODAY).collect()
    }
    assert out[(2024, 1)] == 15
    assert out[(2024, 2)] == 7
    assert out[(2023, 6)] == 3


def test_key_figures_with_ratio(spark, store):
    vals = key_figures(
        store,
        {"dl": Context(datatype="downloads", range="_ALL_")},
        ratios={"dl_ratio": ("dl", "dl")},
        today=TODAY,
    )
    assert vals["dl"] == 25
    assert vals["dl_ratio"] == 100


def test_set_listing_and_validation(spark, store):
    out = set_listing(store, "divisions").collect()
    assert [r.rendered_set_value for r in out] == ["School of Alpha", "School of Beta"]
    filtered = set_listing(store, "divisions", q="beta").collect()
    assert len(filtered) == 1
    assert valid_set_value(store, "divisions", "div1")
    assert not valid_set_value(store, "divisions", "nope")


def test_registry_defaults():
    from irstats2_spark.plans.registry import default_registry

    reg = default_registry()
    assert list(reg.metrics) == ["downloads", "deposits"]
    assert reg.metrics["downloads"].context.datatype == "downloads"
    assert list(reg.reports) == ["main"]


@pytest.fixture(scope="module")
def report_store(spark):
    fact = spark.createDataFrame(
        [
            (1, 20240101, "downloads", 10),
            (2, 20240102, "downloads", 4),
            (1, 20240215, "downloads", 7),
        ],
        "eprintid int, datestamp int, value string, count long",
    )
    ref = spark.createDataFrame(
        [
            (1, 20240101, "Google", 6),
            (2, 20240102, "Yahoo", 2),
            (1, 20240102, "Google", 3),
        ],
        "eprintid int, datestamp int, value string, count long",
    )
    terms = spark.createDataFrame(
        [(1, 20240101, "spark", 5), (2, 20240102, "stats", 2)],
        "eprintid int, datestamp int, value string, count long",
    )
    return StatsStore(
        facts={"downloads": fact, "referrer": ref, "search_terms": terms}
    )


def test_run_report_main(spark, report_store):
    from irstats2_spark.plans.registry import default_registry
    from irstats2_spark.plans.report import run_report

    results = run_report(
        spark, report_store, default_registry(), "main", today=TODAY
    )
    assert len(results) == 5
    kf = results["0_keyfigures_downloads"]
    assert kf["downloads"] == 21  # metrics dict, deposits skipped (not loaded)
    graph = results["1_graph_downloads"]
    # monthly resolution over dataset bounds: Jan + Feb 2024
    assert [(r["datestamp"], r["count"]) for r in graph] == [
        (202401, 14),
        (202402, 7),
    ]
    top_ep = results["2_table_downloads"]
    assert top_ep[0]["eprintid"] == 1 and top_ep[0]["count"] == 17
    top_ref = {r["value"]: r["count"] for r in results["3_table_referrer"]}
    assert top_ref == {"Google": 9, "Yahoo": 2}
    top_terms = results["4_table_search_terms"]
    assert top_terms[0]["value"] == "spark"


def test_result_cache_roundtrip_and_prewarm(spark, report_store, tmp_path):
    from irstats2_spark.plans.registry import default_registry
    from irstats2_spark.plans.report import ResultCache, prewarm_report

    cache = ResultCache(str(tmp_path / "cache"))
    params = {"datatype": "downloads", "range": "_ALL_"}
    assert cache.get(params) is None
    cache.put(params, [{"count": 21}])
    assert cache.get(params) == [{"count": 21}]
    # different params => different key
    assert cache.get({"datatype": "views"}) is None

    n = prewarm_report(
        spark, report_store, default_registry(), cache, "main", today=TODAY
    )
    assert n == 5
    assert cache.clear() >= 5  # nightly invalidation removes entries


def test_report_item_gating(spark, report_store):
    from irstats2_spark.plans.registry import Registry, ReportDef, ReportItem
    from irstats2_spark.plans.report import run_report

    reg = Registry()
    reg.reports["gated"] = ReportDef(
        name="gated",
        items=(
            ReportItem(plugin="Counter", priv="irstats2/admin"),
            ReportItem(plugin="Counter", appears=("divisions",)),
            ReportItem(plugin="Counter"),  # ungated
        ),
    )
    # no privileges, repository-wide context: only the ungated panel runs
    out = run_report(spark, report_store, reg, "gated", today=TODAY)
    assert list(out) == ["2_counter_downloads"]
    # with the privilege granted, the priv-gated panel appears too
    out2 = run_report(
        spark, report_store, reg, "gated", today=TODAY,
        privileges={"irstats2/admin"},
    )
    assert list(out2) == ["0_counter_downloads", "2_counter_downloads"]


def test_report_pie_geo_grid_plugins(spark, report_store):
    from irstats2_spark.plans.registry import Registry, ReportDef, ReportItem
    from irstats2_spark.plans.report import run_report

    reg = Registry()
    reg.reports["rich"] = ReportDef(
        name="rich",
        items=(
            ReportItem(plugin="PieChart", datatype="referrer",
                       options={"top": "referrer"}),
            ReportItem(plugin="GeoChart", datatype="referrer"),
            ReportItem(plugin="ReportHeader"),
            ReportItem(plugin="Grid", options={"items": (
                ReportItem(plugin="Counter", datatype="downloads"),
            )}),
        ),
    )
    out = run_report(spark, report_store, reg, "rich", today=TODAY)
    pie = {r["value"]: r["count"] for r in out["0_piechart_referrer"]}
    assert pie == {"Google": 9, "Yahoo": 2}
    geo = {r["value"]: r["count"] for r in out["1_geochart_referrer"]}
    assert geo == {"Google": 9, "Yahoo": 2}
    assert "2_reportheader_downloads" not in out  # presentational, skipped
    grid = out["3_grid_downloads"]
    assert grid["0_counter_downloads"][0]["count"] == 21


def test_table_data_min_is_one_request_on_every_path(spark, report_store, tmp_path):
    """A Table panel's data_min (Table.pm:134-135) drops the same rows on
    /cgi/stats/get, in run_report and in the pre-warmed cache entry."""
    import json

    from irstats2_spark.plans.http import handle_get
    from irstats2_spark.plans.registry import Registry, ReportDef, ReportItem
    from irstats2_spark.plans.report import ResultCache, prewarm_report, run_report

    reg = Registry()
    reg.reports["min"] = ReportDef(
        name="min",
        items=(ReportItem(plugin="Table", options={"top": "eprint", "data_min": "12"}),),
    )
    params = {"view": "Table", "datatype": "downloads", "top": "eprint", "data_min": "12"}
    want = [{"eprintid": 1, "count": 17}]  # eprint 2's 4 downloads fall below 12
    _, _, body = handle_get(spark, report_store, "/cgi/stats/report", params, today=TODAY)
    assert json.loads(body) == want
    assert run_report(spark, report_store, reg, "min", today=TODAY) == {
        "0_table_downloads": want
    }
    cache = ResultCache(str(tmp_path / "cache"))
    assert prewarm_report(spark, report_store, reg, cache, "min", today=TODAY) == 1
    assert cache.get({**params, "__uri": "/cgi/stats/report"}) == want


def test_prewarm_caches_grid_panels_under_their_get_keys(spark, report_store, tmp_path):
    """Prewarm requests a Grid's sub-panels, not the Grid, and returns the
    number of panels it cached; a Counter is never cached (get:19-24)."""
    import json
    import os

    from irstats2_spark.plans.http import handle_get
    from irstats2_spark.plans.registry import Registry, ReportDef, ReportItem
    from irstats2_spark.plans.report import ResultCache, prewarm_report

    reg = Registry()
    reg.reports["grid"] = ReportDef(
        name="grid",
        items=(
            ReportItem(plugin="KeyFigures"),
            ReportItem(plugin="Grid", options={"items": (
                ReportItem(plugin="Table", datatype="referrer",
                           options={"top": "referrer"}),
                ReportItem(plugin="Counter"),
            )}),
        ),
    )
    cache = ResultCache(str(tmp_path / "cache"))
    n = prewarm_report(spark, report_store, reg, cache, "grid", today=TODAY)
    uri = "/cgi/stats/report"
    table = {"view": "Table", "datatype": "referrer", "top": "referrer"}
    _, _, fresh = handle_get(spark, report_store, uri, table, today=TODAY)
    assert cache.get({**table, "__uri": uri}) == json.loads(fresh)
    assert cache.get({"view": "Counter", "datatype": "downloads", "__uri": uri}) is None
    assert n == len(os.listdir(cache.dir)) == 2  # KeyFigures + the Grid's Table


def test_run_report_leaves_the_registry_unchanged(spark, report_store):
    from irstats2_spark.plans.registry import Registry, ReportDef, ReportItem
    from irstats2_spark.plans.report import run_report

    reg = Registry()
    reg.reports["grid"] = ReportDef(
        name="grid",
        items=(ReportItem(plugin="Grid", options={"items": (
            ReportItem(plugin="Counter"),
        )}),),
    )
    before = dict(reg.reports)
    out = run_report(spark, report_store, reg, "grid", today=TODAY)
    assert reg.reports == before
    assert out == {"0_grid_downloads": {"0_counter_downloads": [{"count": 21}]}}


def test_http_parse_stats_uri_forms():
    """Context.pm:56-105 URI routing: report name, set paths, export
    formats, slash normalization, 'main' default."""
    from irstats2_spark.plans.http import parse_stats_uri

    assert parse_stats_uri("/cgi/stats/report") == {"irs2report": "main"}
    assert parse_stats_uri("/cgi/stats/report/") == {"irs2report": "main"}
    assert parse_stats_uri("/cgi/stats//report//compare") == {
        "irs2report": "compare"
    }
    assert parse_stats_uri("/cgi/stats/report/divisions/div1") == {
        "set_name": "divisions",
        "set_value": "div1",
        "irs2report": "main",
    }
    assert parse_stats_uri("/cgi/stats/report/divisions/div1/deposits") == {
        "set_name": "divisions",
        "set_value": "div1",
        "irs2report": "deposits",
    }
    # export quirk (Context.pm:95-97): single segment doubles as format
    assert parse_stats_uri("/cgi/stats/export/CSV") == {
        "format": "CSV",
        "set_name": "CSV",
    }
    assert parse_stats_uri("/cgi/stats/export/divisions/div1/JSON") == {
        "set_name": "divisions",
        "set_value": "div1",
        "format": "JSON",
    }


def test_http_param_whitelist_and_context_strip():
    """Utils.pm:52-110: malformed non-context params are dropped, never
    echoed; context params get the bad-character strip."""
    from irstats2_spark.plans.http import context_from_request

    ctx, opts = context_from_request(
        "/cgi/stats/report/divisions/div1",
        {
            "view": "Table",
            "limit": "25",
            "top": "eprint",
            "date_resolution": "week",  # invalid: not day|month|year
            "cumulative": "maybe",  # invalid
            "evil": "1; DROP TABLE",  # unknown param: dropped
            "datafilter": "ful<l>text",  # context param: stripped
        },
    )
    assert ctx.set_name == "divisions" and ctx.set_value == "div1"
    assert ctx.datafilter == "fulltext"
    assert opts == {"view": "Table", "limit": "25", "top": "eprint"}


def test_http_handle_get_views_and_exports(spark, store, tmp_path):
    """/cgi/stats/get analog: Graph view returns densified JSON rows,
    Table export returns CSV with the right mimetype, missing view is a
    400, unknown view is a 400, and cache-enabled views round-trip
    through the MD5 file cache (second call served without touching the
    fact store)."""
    import json

    from irstats2_spark.plans.http import handle_get
    from irstats2_spark.plans.report import ResultCache

    status, mt, body = handle_get(
        spark,
        store,
        "/cgi/stats/report",
        {"view": "Graph", "from": "20240101", "to": "20240103"},
        today=TODAY,
    )
    assert (status, mt) == (200, "application/json")
    rows = {r["datestamp"]: r["count"] for r in json.loads(body)}
    assert rows == {20240101: 10, 20240102: 0, 20240103: 5}

    status, mt, body = handle_get(
        spark,
        store,
        "/cgi/stats/report",
        {"view": "Table", "top": "eprint", "limit": "1", "export": "CSV"},
        today=TODAY,
    )
    assert (status, mt) == (200, "text/csv")
    assert body.splitlines()[0] == "eprintid,count"

    assert handle_get(spark, store, "/cgi/stats/report", {})[0] == 400
    assert handle_get(
        spark, store, "/cgi/stats/report", {"view": "Nope<script>"}
    )[0] == 400

    cache = ResultCache(str(tmp_path / "c"))
    req = {"view": "Counter", "range": "_ALL_"}
    # Counter is NOT cache-enabled (get:19-24): no file appears
    handle_get(spark, store, "/cgi/stats/report", req, cache=cache, today=TODAY)
    assert cache.get({**req, "__uri": "/cgi/stats/report"}) is None
    req2 = {"view": "Graph", "from": "20240101", "to": "20240102"}
    _, _, first = handle_get(
        spark, store, "/cgi/stats/report", req2, cache=cache, today=TODAY
    )
    _, _, second = handle_get(
        spark, store, "/cgi/stats/report", req2, cache=cache, today=TODAY
    )
    assert json.loads(first) == json.loads(second)
    assert cache.get({**req2, "__uri": "/cgi/stats/report"}) is not None


def test_http_handle_browse_and_fp_stats(spark, store):
    """browse: referer /view/<id>/<key>.html -> monthly Graph for the
    mapped set (divisions passthrough, year -> range, key suffixes
    stripped); fp_stats: three thousands-separated counters."""
    import json

    from irstats2_spark.plans.http import handle_browse, handle_fp_stats

    status, _, body = handle_browse(
        spark, store, "https://repo.example/view/divisions/div1.html",
        today=TODAY,
    )
    assert status == 200
    total = sum(r["count"] for r in json.loads(body))
    assert total == 18  # div1 = eprint 1: 10+5 (2024) + 3 (2023), all time
    assert handle_browse(spark, store, None)[0] == 400
    assert handle_browse(spark, store, "https://x/no/match")[0] == 400

    status, _, body = handle_fp_stats(spark, store, today=TODAY)
    assert status == 200
    d = json.loads(body)
    assert d["full_text_downloads_all"] == "25"
    assert d["full_texts_all"] == "0"  # no eprints table in this store


def test_http_handle_export_and_set_finder(spark, store):
    """export: URI-form context + the set XOR quirk (one of name/value
    missing drops both), format required/validated, CSV body; set_finder:
    set_name required, q filters the rendered listing, minimum filter
    length enforced, eprintid special case."""
    import json

    from irstats2_spark.plans.http import handle_export, handle_set_finder

    status, mt, body = handle_export(
        spark, store, "/cgi/stats/export/divisions/div1/CSV", today=TODAY
    )
    assert (status, mt) == (200, "text/csv")
    assert body.splitlines()[0] == "datestamp,count"

    # XOR quirk: set_name without set_value -> both dropped, still 200
    status, _, body = handle_export(
        spark, store, "/cgi/stats/export/JSON",
        {"set_name": "divisions"}, today=TODAY,
    )
    assert status == 200
    assert handle_export(spark, store, "/cgi/stats/export")[0] == 400
    assert handle_export(spark, store, "/cgi/stats/export/EVIL<x>")[0] == 400

    status, _, body = handle_set_finder(
        spark, store, "/cgi/stats/report", {"set_name": "divisions", "q": "beta"}
    )
    assert status == 200
    assert json.loads(body) == [
        {"set_value": "div2", "rendered_set_value": "School of Beta"}
    ]
    assert handle_set_finder(spark, store, "/cgi/stats/report", {})[0] == 400
    assert handle_set_finder(
        spark, store, "/cgi/stats/report",
        {"set_name": "divisions", "q": "b"}, minimum_filter_length=3,
    )[0] == 400
    # eprintid special case: no eprints table in this store -> empty hit
    status, _, body = handle_set_finder(
        spark, store, "/cgi/stats/report", {"set_name": "eprintid", "q": "1"}
    )
    assert (status, json.loads(body)) == (200, [])


# ---------------------------------------------------------------------------
# View behaviour pins: eprint live dates, buckets, accumulation, trim/order
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def live_store(spark):
    """Eprint 1 goes live on 2024-01-03; eprint 2 has no live date yet;
    eprint 3 has no eprints row at all. All three have downloads on days
    before 2024-01-03."""
    fact = spark.createDataFrame(
        [
            (1, 20240101, "downloads", 4),
            (1, 20240102, "downloads", 6),
            (1, 20240103, "downloads", 5),
            (1, 20240105, "downloads", 2),
            (2, 20240102, "downloads", 9),
            (3, 20240102, "downloads", 8),
        ],
        "eprintid int, datestamp int, value string, count long",
    )
    eprints = spark.createDataFrame(
        [
            (1, "archive", dt.datetime(2024, 1, 3, 10, 30)),
            (2, "archive", None),
        ],
        "eprintid int, eprint_status string, datestamp timestamp",
    )
    return StatsStore(facts={"downloads": fact}, eprints=eprints)


def _graph_get(spark, store, uri, **params):
    import json

    from irstats2_spark.plans.http import handle_get

    status, _, body = handle_get(
        spark, store, uri, {"view": "Graph", **params}, today=TODAY
    )
    return status, json.loads(body)


def test_eprint_graph_zeroes_days_before_live_date(spark, live_store):
    status, rows = _graph_get(
        spark, live_store, "/cgi/stats/report/eprint/1",
        **{"from": "20240101", "to": "20240105"},
    )
    assert status == 200
    assert [(r["datestamp"], r["count"]) for r in rows] == [
        (20240101, 0), (20240102, 0), (20240103, 5), (20240104, 0), (20240105, 2),
    ]


@pytest.mark.parametrize("epid", ["2", "3"])  # NULL live date; no eprints row
def test_eprint_graph_without_live_date_is_all_zero(spark, live_store, epid):
    status, rows = _graph_get(
        spark, live_store, f"/cgi/stats/report/eprint/{epid}",
        **{"from": "20240101", "to": "20240103"},
    )
    assert status == 200
    assert [(r["datestamp"], r["count"]) for r in rows] == [
        (20240101, 0), (20240102, 0), (20240103, 0),
    ]


def test_graph_month_and_year_buckets_across_year_boundary(spark, store):
    _, rows = _graph_get(
        spark, store, "/cgi/stats/report",
        **{"from": "20231201", "to": "20240229", "date_resolution": "month"},
    )
    assert [(r["datestamp"], r["count"]) for r in rows] == [
        (202312, 0), (202401, 15), (202402, 7),
    ]
    _, rows = _graph_get(
        spark, store, "/cgi/stats/report",
        **{"from": "20230101", "to": "20241231", "date_resolution": "year"},
    )
    assert [(r["datestamp"], r["count"]) for r in rows] == [(2023, 3), (2024, 22)]


def test_graph_cumulative_and_average_over_leading_zero_days(spark, store):
    _, rows = _graph_get(
        spark, store, "/cgi/stats/report",
        **{"from": "20231230", "to": "20240103", "cumulative": "true",
           "show_average": "true"},
    )
    assert [r["datestamp"] for r in rows] == [
        20231230, 20231231, 20240101, 20240102, 20240103,
    ]
    assert [r["count"] for r in rows] == [0, 0, 10, 0, 5]
    assert [r["cumulative"] for r in rows] == [0, 0, 10, 10, 15]
    # int(cumulative / i), i counting from the first day of the window
    assert [r["running_avg"] for r in rows] == [0, 0, 3, 2, 3]


def test_graph_all_time_on_empty_fact_is_empty(spark):
    fact = spark.createDataFrame(
        [], "eprintid int, datestamp int, value string, count long"
    )
    empty = StatsStore(facts={"downloads": fact})
    status, rows = _graph_get(spark, empty, "/cgi/stats/report", range="_ALL_")
    assert (status, rows) == (200, [])
    assert graph_series(
        spark, empty, Context(datatype="downloads", range="_ALL_"), today=TODAY
    ).collect() == []


def test_spark_view_trims_leading_zeros_newest_first(spark, store):
    import json

    from irstats2_spark.plans.http import handle_get

    status, _, body = handle_get(
        spark, store, "/cgi/stats/report", {"view": "Spark"},
        today=dt.date(2024, 3, 1),
    )
    assert status == 200
    got = [(r["datestamp"], r["count"]) for r in json.loads(body)]
    days = [dt.date(2024, 2, 29) - dt.timedelta(days=i) for i in range(60)]
    want = {20240101: 10, 20240103: 5, 20240215: 7}
    stamps = [int(d.strftime("%Y%m%d")) for d in days]
    assert got == [(s, want.get(s, 0)) for s in stamps]
    # a window with no data at all trims to nothing
    _, _, body = handle_get(
        spark, store, "/cgi/stats/report", {"view": "Spark"},
        today=dt.date(2022, 1, 1),
    )
    assert json.loads(body) == []


def _jobs_in_group(spark, run) -> int:
    """Spark jobs started by ``run()``, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_view_path_runs_no_spark_job_outside_its_collect(spark, live_store):
    """Building an eprint context starts no Spark job; a Graph request
    starts no more jobs than one collect of its compiled context."""
    from irstats2_spark.plans.builder import compile_context

    ctx = Context(datatype="downloads", set_name="eprint", set_value="1",
                  from_date="20240101", to_date="20240105")
    built = []
    assert _jobs_in_group(
        spark,
        lambda: built.append(compile_context(live_store, ctx, ("datestamp",), today=TODAY))
    ) == 0
    one_collect = _jobs_in_group(spark, lambda: built[0].collect())
    request = _jobs_in_group(
        spark,
        lambda: _graph_get(spark, live_store, "/cgi/stats/report/eprint/1",
                           **{"from": "20240101", "to": "20240105"}),
    )
    assert 0 < request <= one_collect


def test_prewarm_serves_the_main_report_graph_request(spark, report_store, tmp_path):
    """The nightly prewarm caches under the same key a real request
    looks up: the main month-Graph panel is a cache hit whose body
    equals a freshly computed one."""
    import json

    from irstats2_spark.plans.http import handle_get
    from irstats2_spark.plans.registry import default_registry
    from irstats2_spark.plans.report import ResultCache, prewarm_report

    cache = ResultCache(str(tmp_path / "cache"))
    assert prewarm_report(
        spark, report_store, default_registry(), cache, "main", today=TODAY
    ) == 5
    params = {"view": "Graph", "datatype": "downloads",
              "date_resolution": "month", "graph_type": "column"}
    _, _, fresh = handle_get(
        spark, report_store, "/cgi/stats/report", params, today=TODAY
    )
    hit = cache.get({**params, "__uri": "/cgi/stats/report"})
    assert hit is not None and hit == json.loads(fresh)
    _, _, served = handle_get(
        spark, report_store, "/cgi/stats/report", params, cache=cache, today=TODAY
    )
    assert served == fresh


def test_get_on_a_missing_datatype_is_unknown_datatype(spark, store):
    """A datatype the store does not hold is answered as such, not as an
    unknown view; an unknown view is still named as the view."""
    from irstats2_spark.plans.http import handle_get

    assert handle_get(
        spark, store, "/cgi/stats/report", {"view": "Graph", "datatype": "views"},
        today=TODAY,
    ) == (400, "text/html", "<p>IRStats2: unknown datatype <strong>views</strong></p>")
    assert handle_get(
        spark, store, "/cgi/stats/report", {"view": "Nope", "datatype": "views"},
        today=TODAY,
    ) == (400, "text/html", "<p>IRStats2: unknown view <strong>Nope</strong></p>")


# ---------------------------------------------------------------------------
# The serve path's pinned snapshot of a gold store on disk
# ---------------------------------------------------------------------------


def _write_gold(spark, root) -> None:
    from irstats2_spark.sources.storage import write_fact

    write_fact(
        spark.createDataFrame(
            [(e, 20240100 + d, "x", e * d) for e in range(1, 7) for d in range(1, 6)],
            "eprintid int, datestamp int, value string, count long",
        ),
        root, "downloads",
    )
    spark.createDataFrame(
        [("divisions", f"div{e % 2}", e) for e in range(1, 7)],
        "set_name string, set_value string, eprintid int",
    ).coalesce(1).write.parquet(f"{root}/dim_sets")
    spark.createDataFrame(
        [("divisions", f"div{e % 2}", "authors", f"a{e % 3}", e) for e in range(1, 7)],
        "set_name string, set_value string, grouping_name string, "
        "grouping_value string, eprintid int",
    ).coalesce(1).write.parquet(f"{root}/dim_groupings")
    spark.createDataFrame(
        [(e, dt.datetime(2024, 1, 3)) for e in range(1, 7)],
        "eprintid int, datestamp timestamp",
    ).coalesce(1).write.parquet(f"{root}/eprints")


def _open_gold(spark, root) -> StatsStore:
    from irstats2_spark.sources.storage import read_fact

    return StatsStore(
        facts={"downloads": read_fact(spark, root, "downloads")},
        sets=spark.read.parquet(f"{root}/dim_sets"),
        groupings=spark.read.parquet(f"{root}/dim_groupings"),
        eprints=spark.read.parquet(f"{root}/eprints"),
    )


@pytest.fixture(scope="module")
def gold_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("gold"))
    _write_gold(spark, root)
    return root


# the eprint (with its live-date clamp), set member, whole set and
# grouping shapes
_SHAPES = [
    Context(set_name="eprint", set_value="3", range="_ALL_"),
    Context(set_name="divisions", set_value="div1", range="_ALL_"),
    Context(set_name="divisions", range="_ALL_"),
    Context(set_name="divisions", set_value="div1", grouping="authors", range="_ALL_"),
]


def _executed_plans(store) -> list[str]:
    from irstats2_spark.plans.builder import compile_context

    return [
        compile_context(store, c, ("datestamp",), today=TODAY)._jdf.queryExecution()
        .executedPlan().toString()
        for c in _SHAPES
    ]


def test_pinned_gold_compiles_every_shape_to_one_exchange_free_stage(spark, gold_root):
    """Over a pinned snapshot of gold read from parquet, each table is one
    partition, so no compiled shape needs a shuffle or a broadcast, and a
    Graph request runs exactly one Spark job."""
    store = _open_gold(spark, gold_root)
    pinned = store.pinned()
    assert pinned.single_partition and pinned is store.pinned() is pinned.pinned()
    for plan in _executed_plans(pinned):
        assert "Exchange" not in plan, plan  # BroadcastExchange included
        assert "ShuffledHashJoin" in plan, plan
    for uri in ("/cgi/stats/report/eprint/3", "/cgi/stats/report/divisions/div1"):
        assert _jobs_in_group(
            spark, lambda: _graph_get(spark, store, uri, range="_ALL_")
        ) == 1


def test_pinned_gold_too_large_to_pin_keeps_the_parquet_plan(spark, gold_root, monkeypatch):
    """A fact larger than ``PIN_MAX_BYTES`` is left as read: the compiled
    shapes keep their broadcast joins and the fact scan keeps its
    partition pruning and pushed filters; the smaller dimensions are
    still pinned."""
    from irstats2_spark.plans import builder

    def size(df):
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())

    store = _open_gold(spark, gold_root)
    fact = store.facts["downloads"]
    dims = max(size(store.sets), size(store.groupings), size(store.eprints))
    assert size(fact) > dims
    monkeypatch.setattr(builder, "PIN_MAX_BYTES", dims)
    pinned = store.pinned()
    assert not pinned.single_partition
    assert pinned.facts["downloads"] is fact and pinned.sets is not store.sets
    for plan in _executed_plans(pinned):
        assert "BroadcastHashJoin" in plan, plan
    week = Context(set_name="eprint", set_value="3",
                   from_date="20240102", to_date="20240104")
    plan = builder.compile_context(
        pinned, week, ("datestamp",), today=TODAY
    )._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*datestamp", plan), plan
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(eprintid,3\)", plan), plan


def test_fp_stats_runs_two_jobs_over_a_pinned_store(spark, gold_root):
    """fp_stats counts the documents and collects the all-time day series
    once; both download totals are summed from it in Python, and the
    body equals the two separate grand totals."""
    import json

    from irstats2_spark.plans.builder import compile_context, sum_all
    from irstats2_spark.plans.http import handle_fp_stats

    today = dt.date(2025, 1, 3)  # the last year is 20240102-20250102
    store = _open_gold(spark, gold_root)
    out = []
    assert _jobs_in_group(
        spark, lambda: out.append(handle_fp_stats(spark, store, today=today))
    ) == 2
    status, ctype, body = out[0]

    def total(range_):
        ctx = Context(datatype="downloads", range=range_)
        return sum_all(compile_context(store, ctx, today=today)).head()[0]

    assert (status, ctype) == (200, "application/json")
    assert json.loads(body) == {
        "full_texts_all": "6",
        "full_text_downloads_all": f"{total('_ALL_'):,}",
        "full_text_downloads_year": f"{total('1y'):,}",
    }
    assert json.loads(body)["full_text_downloads_year"] == "294"


def test_pinned_snapshot_keeps_its_rows_and_a_reopened_store_sees_new_files(spark, tmp_path):
    """A pinned store serves the rows it was opened on; a store opened
    after a part file lands reads it. (A ``cache()``d scan would serve the
    old rows to the new store too: its plan matches by path.)"""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from irstats2_spark.plans.http import handle_get

    root = str(tmp_path)
    _write_gold(spark, root)

    def total(store):
        status, _, body = handle_get(
            spark, store, "/cgi/stats/report", {"view": "Counter", "range": "_ALL_"},
            today=TODAY,
        )
        assert status == 200
        return json.loads(body)[0]["count"]

    old = _open_gold(spark, root)
    before = total(old)
    day = tmp_path / "fact_downloads" / "datestamp=20240109"
    day.mkdir()
    pq.write_table(
        pa.table({
            "eprintid": pa.array([1], pa.int32()),
            "value": pa.array(["x"]),
            "count": pa.array([1000], pa.int64()),
        }),
        str(day / "part-00000-landed.parquet"),
    )
    assert total(old) == before
    assert total(_open_gold(spark, root)) == before + 1000
