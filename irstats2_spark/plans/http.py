"""HTTP request shells for the stats endpoints — the last unported
user-facing surface (cgi/stats/get:1-104, cgi/stats/browse:1-121,
cgi/stats/fp_stats:1-45, cgi/stats/export, Context.pm:44-129,
Utils.pm:52-110).

Framework-free by design: each handler takes the request as plain data
(uri string + params dict) and returns ``(status, content_type, body)``
so any WSGI/ASGI one-liner can mount it. All engine work routes through
the SAME plans/views/report/export layers the gated catalog queries
verify — these shells add only what the CGI scripts add: URI → context
parsing, the non-context parameter whitelist, view dispatch, export
content types, and the MD5-sorted-params cache policy.
"""

from __future__ import annotations

import datetime as dt
import re
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession

from irstats2_spark.plans.builder import StatsStore, compile_context, sum_all
from irstats2_spark.plans.context import Context, QueryOptions
from irstats2_spark.sources.export import records

# Context.pm:14-25 — the request fields that flow into the Context;
# everything else in the query string is a view option.
CONTEXT_FIELDS = (
    "irs2report",
    "set_name",
    "set_value",
    "from",
    "to",
    "range",
    "datatype",
    "datafilter",
    "grouping",
    "cache",
)

# cgi/stats/get:19-24 — only these view results are file-cached
CACHE_ENABLED_VIEWS = frozenset(
    {"Table", "Graph", "Spark", "GeoChart", "PieChart"}
)

# Context.pm:455-457 — default bad-character strip for context params
_CTX_STRIP_RE = re.compile(r"[<>/\\;=&?%'\x00-\x1f]")


def validate_non_context_param(key: str, value: str) -> bool:
    """Utils.pm:52-110's whitelist: unknown or malformed params are
    DROPPED (never echoed back — the reference logs and ignores)."""
    rules = {
        "limit": r"^(\d+|all)$",
        "date_resolution": r"^(day|month|year)$",
        "graph_type": r"^(area|column)$",
        "cumulative": r"^(true|false)$",
        "show_average": r"^(true|false)$",
        "q": r"^[\x20-\x7e]+$",
        "export": r"^[\w.\-:]+$",
        "top": r"^[\w.\-:]+$",
        "view": r"^[\w.\-:]+$",
        "container_id": r"^[\w.\-:]+$",
        "title": r".",
    }
    pat = rules.get(key)
    return bool(pat and re.match(pat, str(value)))


def parse_stats_uri(uri: str) -> dict[str, str]:
    """Context.pm:56-105 URI forms:

    - /cgi/stats/report[/<report>]                   -> irs2report
    - /cgi/stats/report/<set_name>/<set_value>[/<r>] -> set + report
    - /cgi/stats/export/<format>                     -> format (+set_name,
      mirroring the reference's quirk at Context.pm:95-97)
    - /cgi/stats/export/<set_name>/<set_value>[/<format>]

    Trailing slash stripped, duplicate slashes collapsed; report
    defaults to 'main'."""
    uri = re.sub(r"/+", "/", uri.rstrip("/"))
    out: dict[str, str] = {}
    m = re.match(r"^/cgi/stats/report(?:/(.*))?$", uri)
    if m:
        paths = [p for p in (m.group(1) or "").split("/") if p]
        if len(paths) == 1:
            out["irs2report"] = paths[0]
        elif len(paths) > 1:
            out["set_name"], out["set_value"] = paths[0], paths[1]
            if len(paths) > 2:
                out["irs2report"] = paths[2]
        out.setdefault("irs2report", "main")
        return out
    m = re.match(r"^/cgi/stats/export(?:/(.*))?$", uri)
    if m:
        paths = [p for p in (m.group(1) or "").split("/") if p]
        if len(paths) == 1:
            out["format"] = out["set_name"] = paths[0]
        elif len(paths) > 1:
            out["set_name"], out["set_value"] = paths[0], paths[1]
            if len(paths) > 2:
                out["format"] = paths[2]
        return out
    return out


def context_from_request(
    uri: str, params: dict[str, str]
) -> tuple[Context, dict[str, str]]:
    """cgi/stats/get:105-128 + Context.pm:44-129: path fields first,
    query-string fields override, context params character-stripped,
    non-context params whitelisted (invalid ones silently dropped)."""
    fields = parse_stats_uri(uri)
    for k, v in params.items():
        if k in CONTEXT_FIELDS and v not in (None, ""):
            fields[k] = str(v)
    ctx = Context(
        datatype=fields.get("datatype", "downloads"),
        set_name=fields.get("set_name"),
        set_value=fields.get("set_value"),
        grouping=fields.get("grouping"),
        datafilter=fields.get("datafilter"),
        range=fields.get("range"),
        from_date=fields.get("from"),
        to_date=fields.get("to"),
        irs2report=fields.get("irs2report"),
        cache=fields.get("cache", "1") not in ("0", "false"),
    ).sanitized()
    nonctx = {
        k: str(v)
        for k, v in params.items()
        if k not in CONTEXT_FIELDS
        and v not in (None, "")
        and validate_non_context_param(k, v)
    }
    return ctx, nonctx


_EXPORT_MIMETYPES = {
    "CSV": "text/csv",
    "JSON": "application/json",
    "XML": "text/xml",
}


def _export(fmt: str, columns: list[str], rows: list[tuple]) -> tuple[int, str, str]:
    """A result as a CSV / JSON / XML export response."""
    from irstats2_spark.sources import export

    body = getattr(export, f"to_{fmt.lower()}")(columns, rows)
    return 200, _EXPORT_MIMETYPES[fmt], body


def _render_view(
    spark: SparkSession,
    store: StatsStore,
    ctx: Context,
    view: str,
    opts: dict[str, str],
    today: dt.date | None,
) -> tuple[list[str], list[tuple]]:
    """View dispatch (get:53-58 instantiates Stats::View::<view>);
    routing mirrors plans/report.run_report's per-plugin arms. Returns
    the view's ``(columns, rows)``: every view is one compiled grouped
    sum, collected once, here or in its plans/views row builder."""
    from irstats2_spark.plans.views import graph_rows, sparkline_rows, top_table

    view = view.split("::")[-1]  # 'Google::Graph' -> 'Graph'
    if view == "Graph":
        return graph_rows(
            store,
            ctx,
            resolution=opts.get("date_resolution", "day"),
            cumulative=opts.get("cumulative") == "true",
            show_average=opts.get("show_average") == "true",
            today=today,
        )
    if view == "Spark":
        return sparkline_rows(store, ctx, today=today)
    if view == "Counter":
        df = sum_all(compile_context(store, ctx, today=today))
    elif view == "GeoChart":
        df = compile_context(store, replace(ctx, grouping="value"), today=today)
    elif view in ("Table", "PieChart"):
        df = top_table(
            store, ctx, opts.get("top", "eprint"), opts.get("limit", "10"),
            today=today,
        )
    else:
        raise KeyError(view)
    return df.columns, df.collect()


def handle_get(
    spark: SparkSession,
    store: StatsStore,
    uri: str = "/cgi/stats/report",
    params: dict[str, str] | None = None,
    cache=None,
    today: dt.date | None = None,
) -> tuple[int, str, str]:
    """The /cgi/stats/get AJAX endpoint (get:40-104): context from the
    request, ``view`` required, optional ``export`` format, and the
    MD5-sorted-params file cache for the cache-enabled views. Returns
    (status, content_type, body) — body is JSON rows for views,
    CSV/JSON/XML text for exports. Pass ``cache`` as a
    ``plans.report.ResultCache`` to enable the get:76-99 behavior."""
    import json as _json

    params = dict(params or {})
    ctx, opts = context_from_request(uri, params)
    view = opts.get("view")
    if view is None:
        return 400, "text/html", "<p>IRStats2: missing parameters in request.</p>"
    export = opts.get("export")
    # cache key = md5 of the canonical sorted request params (get:80,
    # Utils.pm:676-692) — ResultCache implements it
    key_params = {**params, "__uri": uri}
    cached = (
        cache is not None
        and ctx.cache
        and export is None
        and view.split("::")[-1] in CACHE_ENABLED_VIEWS
    )
    if cached:
        hit = cache.get(key_params)
        if hit is not None:
            return 200, "application/json", _json.dumps(hit)
    try:
        columns, rows = _render_view(spark, store, ctx, view, opts, today)
    except KeyError:
        safe = re.sub(r"[<>&]", "", view)
        return 400, "text/html", f"<p>IRStats2: unknown view <strong>{safe}</strong></p>"

    if export is not None:
        if export.upper() not in _EXPORT_MIMETYPES:
            return 400, "text/html", "<p>IRStats2: unknown export format</p>"
        return _export(export.upper(), columns, rows)

    body_rows = records(columns, rows)
    if cached:
        cache.put(key_params, body_rows)
    return 200, "application/json", _json.dumps(body_rows)


# browse:60-66 — view-path id -> set name; 'year' routes to a date range
_BROWSE_SET_MAPPINGS = {"divisions": "divisions", "year": None, "creators": "authors"}


def handle_browse(
    spark: SparkSession,
    store: StatsStore,
    referer: str | None,
    set_mappings: dict[str, str | None] | None = None,
    today: dt.date | None = None,
) -> tuple[int, str, str]:
    """The /cgi/stats/browse endpoint (browse:17-121): parse the
    Referer's /view/<viewid>/<key>.html path, map viewid to a set name
    (year -> a range instead), and render the monthly column Graph for
    that context. Returns (status, content_type, JSON-rows body)."""
    import json as _json

    if not referer:
        return 400, "text/html", "<p>IRStats2: missing referer</p>"
    m = re.search(r"/view/(\w+)/(.*)\.html", referer, re.I)
    if not m:
        return 400, "text/html", "<p>IRStats2: unparseable referer</p>"
    viewid, key = m.group(1), m.group(2)
    mappings = set_mappings if set_mappings is not None else _BROWSE_SET_MAPPINGS
    setid = mappings.get(viewid, viewid)
    key = re.sub(r"(\..*)$", "", key)
    key = re.sub(r"(/.*)$", "", key)
    if viewid == "year":
        ctx = Context(datatype="downloads", range=key)
    else:
        if viewid == "institution":
            key = key.replace("_", " ")
        ctx = Context(datatype="downloads", set_name=setid, set_value=key)
    columns, rows = _render_view(
        spark,
        store,
        ctx.sanitized(),
        "Graph",
        {"date_resolution": "month", "graph_type": "column"},
        today,
    )
    return 200, "application/json", _json.dumps(records(columns, rows))


def handle_fp_stats(
    spark: SparkSession,
    store: StatsStore,
    archive: DataFrame | None = None,
    today: dt.date | None = None,
) -> tuple[int, str, str]:
    """The /cgi/stats/fp_stats front-page counters (fp_stats:17-43):
    full-text document count, all-time downloads, and last-year
    downloads — each thousands-separated (F12, Utils.pm:340-369).

    ``archive``: the eprint table; rows with ``full_text_status`` in
    (public, restricted) are counted when the column exists, else every
    row (the synthetic testdata carries no such column — pass the real
    archive in production). Falls back to ``store.eprints``."""
    import json as _json

    from pyspark.sql import functions as F

    arch = archive if archive is not None else store.eprints
    if arch is not None:
        if "full_text_status" in arch.columns:
            arch = arch.filter(
                F.col("full_text_status").isin("public", "restricted")
            )
        n_docs = arch.count()
    else:
        n_docs = 0

    ctx_all = Context(datatype="downloads", range="_ALL_")
    dl_all = sum_all(compile_context(store, ctx_all, today=today)).head()[0]
    ctx_year = Context(datatype="downloads", range="1y")
    dl_year = sum_all(compile_context(store, ctx_year, today=today)).head()[0]
    body = _json.dumps(
        {
            "full_texts_all": f"{n_docs:,}",
            "full_text_downloads_all": f"{int(dl_all):,}",
            "full_text_downloads_year": f"{int(dl_year):,}",
        }
    )
    return 200, "application/json", body


def handle_export(
    spark: SparkSession,
    store: StatsStore,
    uri: str = "/cgi/stats/export",
    params: dict[str, str] | None = None,
    today: dt.date | None = None,
) -> tuple[int, str, str]:
    """The /cgi/stats/export endpoint (export:1-59): context from the
    export URI form, the reference's set XOR quirk (export:30-35 — if
    exactly ONE of set_name/set_value is present, both are dropped),
    ``format`` required, full compiled selection exported in the
    format's content type."""
    params = dict(params or {})
    fields = parse_stats_uri(uri)
    for k, v in params.items():
        if k in CONTEXT_FIELDS and v not in (None, ""):
            fields[k] = str(v)
    if (fields.get("set_name") is None) != (fields.get("set_value") is None):
        fields.pop("set_name", None)
        fields.pop("set_value", None)
    fmt = fields.get("format") or params.get("format")
    if fmt is None:
        return 400, "text/html", "<p>IRStats2: missing parameters in request.</p>"
    fmt = fmt.upper()
    if fmt not in _EXPORT_MIMETYPES:
        safe = re.sub(r"[<>&]", "", fmt)
        return 400, "text/html", f"<p>IRStats2: unknown export <strong>{safe}</strong></p>"
    ctx = Context(
        datatype=fields.get("datatype", "downloads"),
        set_name=fields.get("set_name"),
        set_value=fields.get("set_value"),
        grouping=fields.get("grouping"),
        datafilter=fields.get("datafilter"),
        range=fields.get("range"),
        from_date=fields.get("from"),
        to_date=fields.get("to"),
    ).sanitized()
    # the export plugins dump the context's data selection row-by-row
    # (Export/CSV.pm:15-47) — the per-datestamp series of the selection
    df = compile_context(
        store, ctx, QueryOptions(fields=("datestamp",)), today=today
    )
    return _export(fmt, df.columns, df.collect())


def handle_set_finder(
    spark: SparkSession,
    store: StatsStore,
    uri: str = "/cgi/stats/report",
    params: dict[str, str] | None = None,
    minimum_filter_length: int = 0,
) -> tuple[int, str, str]:
    """The /cgi/stats/set_finder autocomplete endpoint
    (set_finder:27-80): requires a context ``set_name``; the ``q``
    filter is whitelist-validated; queries shorter than the set's
    ``minimum_filter_length`` are refused (the reference's typeahead
    throttle); ``eprintid`` is the single-match special case. Returns
    JSON rows of (set_value, rendered_set_value) — presentation-free,
    the HTML link markup being the caller's concern."""
    import json as _json

    from irstats2_spark.plans.views import set_listing

    params = dict(params or {})
    ctx, opts = context_from_request(uri, params)
    if ctx.set_name is None:
        return 400, "text/html", "<p>IRStats2: missing parameters in request.</p>"
    q = opts.get("q", "")
    if ctx.set_name == "eprintid":
        # single-match special case (set_finder:58-68)
        if store.eprints is not None and q.isdigit():
            hit = store.eprints.filter(
                store.eprints["eprintid"] == int(q)
            ).head()
            if hit is not None:
                return 200, "application/json", _json.dumps(
                    [{"set_value": q, "rendered_set_value": f"eprint {q}"}]
                )
        return 200, "application/json", "[]"
    if len(q) < minimum_filter_length:
        return 400, "text/html", (
            f"<p>IRStats2: type at least {minimum_filter_length} "
            "characters</p>"
        )
    rows = [
        r.asDict() for r in set_listing(store, ctx.set_name, q or None).collect()
    ]
    return 200, "application/json", _json.dumps(rows)
