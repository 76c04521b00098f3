"""Report composition + result cache (SURVEY §3.1 step 4, §3.2, §4).

The reference renders a report page by cloning the context for each
configured panel (Screen/IRStats2/Report.pm:101-173); each panel's JS
then requests its data from /cgi/stats/get, served through an MD5-keyed
file cache (cgi/stats/get:76-99; key Utils.pm:676-692). Only KeyFigures
is computed while the page renders (Report.pm:141-172). The nightly ETL
clears the cache, then pre-warms those same requests
(bin/stats/process_stats:144-159). Here:

- ``_panels`` walks a report's visible panels, Grid sub-panels included,
  and yields the /cgi/stats/get request each panel's page sends.
- ``run_report`` renders those requests through ``plans.http.handle_get``
  and returns the JSON rows the page receives; ``prewarm_report`` sends
  the same requests with the cache attached. ``handle_get`` is the one
  place a view name becomes a plan.
- ``ResultCache`` stores collected results as JSON keyed by the MD5 of
  the canonical (sorted) parameter dict — same invalidation story as the
  reference: clear + pre-warm after each ETL run.

Caching collected rows is an API-layer concern: entries are top-N tables
and densified series (KB-sized), never raw data.
"""

from __future__ import annotations

import hashlib
import json
import os

import datetime as dt

from pyspark.sql import SparkSession

from irstats2_spark.plans.builder import StatsStore
from irstats2_spark.plans.http import CACHE_ENABLED_VIEWS, handle_get
from irstats2_spark.plans.registry import Registry, ReportItem
from irstats2_spark.plans.views import key_figures

# the URI a repository-wide report page sends its panel requests from
_REPORT_URI = "/cgi/stats/report"


def _visible_items(items: tuple[ReportItem, ...], privileges):
    """(key, item) for each item of a repository-wide report page
    (set_name None) the viewer may see: per-item gating
    (Report.pm:112-117, z_irstats2.pl:431-434)."""
    for i, item in enumerate(items):
        if item.priv is not None and item.priv not in privileges:
            continue
        if item.appears is not None and None not in item.appears:
            continue
        yield f"{i}_{item.plugin.lower()}_{item.datatype}", item


def _panels(items: tuple[ReportItem, ...], privileges):
    """(path, params) for each visible panel, depth first. ``path`` is the
    panel's key after the keys of the Grids (Grid.pm) it sits in;
    ``params`` is the /cgi/stats/get request the panel's page sends.
    ReportHeader is presentational and sends none."""
    for key, item in _visible_items(items, privileges):
        if item.plugin == "Grid":
            for path, params in _panels(item.options.get("items", ()), privileges):
                yield (key, *path), params
        elif item.plugin != "ReportHeader":
            fields = {
                "view": item.plugin,
                "datatype": item.datatype,
                "datafilter": item.datafilter,
                "grouping": item.grouping,
                **item.options,
            }
            yield (key,), {k: v for k, v in fields.items() if v is not None}


def _key_figures(store: StatsStore, registry: Registry, today) -> dict[str, int]:
    store = store.pinned()
    metrics = {m.name: m.context for m in registry.metrics.values()
               if m.context.datatype in store.facts}
    return key_figures(store, metrics, today=today)


def run_report(
    spark: SparkSession,
    store: StatsStore,
    registry: Registry,
    report: str = "main",
    today: dt.date | None = None,
    privileges: frozenset[str] | set[str] = frozenset(),
) -> dict[str, object]:
    """Render every visible panel of a report as its page receives it:
    ``{item_key: JSON rows}``, KeyFigures as its dict of totals and a
    Grid as a nested dict of its panels. Each panel is one request
    through ``plans.http.handle_get``, so each gets its own context
    (Report.pm:133: isolation). A panel that does not render, an unknown
    view included, raises ValueError. Items with an unmet ``priv`` or an
    ``appears`` list without None (repository-wide) are skipped."""
    out: dict[str, object] = {}
    for path, params in _panels(registry.reports[report].items, privileges):
        parent = out
        for key in path[:-1]:
            parent = parent.setdefault(key, {})
        if params["view"] == "KeyFigures":
            parent[path[-1]] = _key_figures(store, registry, today)
            continue
        status, _, body = handle_get(spark, store, _REPORT_URI, params, today=today)
        if status != 200:
            raise ValueError(f"report '{report}' panel {'.'.join(path)}: {body}")
        parent[path[-1]] = json.loads(body)
    return out


class ResultCache:
    """MD5-keyed JSON file cache of collected results (Utils.pm:654-692)."""

    def __init__(self, cache_dir: str):
        self.dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    @staticmethod
    def key(params: dict) -> str:
        canonical = json.dumps(
            {str(k): str(v) for k, v in params.items()}, sort_keys=True
        )
        return hashlib.md5(canonical.encode("utf-8")).hexdigest()

    def _path(self, params: dict) -> str:
        return os.path.join(self.dir, self.key(params) + ".ir2")

    def get(self, params: dict):
        p = self._path(params)
        if os.path.exists(p):
            with open(p) as fh:
                return json.load(fh)
        return None

    def put(self, params: dict, rows: list[dict]) -> None:
        tmp = self._path(params) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(rows, fh)
        os.replace(tmp, self._path(params))

    def clear(self) -> int:
        """Nightly invalidation (process_stats:144-150)."""
        n = 0
        for f in os.listdir(self.dir):
            if f.endswith(".ir2"):
                os.remove(os.path.join(self.dir, f))
                n += 1
        return n


def prewarm_report(
    spark: SparkSession,
    store: StatsStore,
    registry: Registry,
    cache: ResultCache,
    report: str = "main",
    today: dt.date | None = None,
) -> int:
    """Post-ETL pre-warm of a report's panels (process_stats:151-159).

    Walks the same panels as ``run_report`` and sends each cache-enabled
    panel's request through ``plans.http.handle_get`` with the cache, so
    the entry sits under the very key a user's request looks up; a
    Counter, which /cgi/stats/get never caches (get:19-24), is not
    requested. KeyFigures, which the page computes while rendering, is
    cached under ``{report, item}``. Returns the number of panels cached:
    KeyFigures plus every request that returned 200."""
    n = 0
    for path, params in _panels(registry.reports[report].items, frozenset()):
        view = params["view"]
        if view == "KeyFigures":
            cache.put(
                {"report": report, "item": ".".join(path)},
                [_key_figures(store, registry, today)],
            )
            n += 1
        elif view.split("::")[-1] in CACHE_ENABLED_VIEWS:
            status, _, _ = handle_get(
                spark, store, _REPORT_URI, params, cache=cache, today=today
            )
            n += status == 200
    return n
