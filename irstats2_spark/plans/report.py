"""Report composition + result cache (SURVEY §3.1 step 4, §3.2, §4).

The reference's report page instantiates one view per configured item
with a cloned context (Screen/IRStats2/Report.pm:101-173), each view's
AJAX request is served through an MD5-keyed file cache
(cgi/stats/get:76-99; key Utils.pm:676-692), and the nightly ETL clears
then pre-warms the cache for configured reports
(bin/stats/process_stats:144-159). Here:

- ``run_report`` executes every item of a ReportDef against the store,
  reproducing Table.pm:57-85's ``top`` routing (top='eprint' => group by
  eprintid; top=<the item's datatype> => group by the fact value column;
  top=<set name> => grouping join) and per-item context isolation.
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
from dataclasses import replace

import datetime as dt

from pyspark.sql import SparkSession

from irstats2_spark.plans.builder import StatsStore, compile_context, sum_all
from irstats2_spark.plans.context import Context
from irstats2_spark.plans.registry import Registry
from irstats2_spark.plans.views import graph_series, key_figures, top_table


def _visible_items(rdef, base: Context, privileges):
    """(key, item) for each item of a report the context may see:
    per-item gating (Report.pm:112-117, z_irstats2.pl:431-434)."""
    for i, item in enumerate(rdef.items):
        if item.priv is not None and item.priv not in privileges:
            continue
        if item.appears is not None and base.set_name not in item.appears:
            continue
        yield f"{i}_{item.plugin.lower()}_{item.datatype}", item


def _key_figures(store: StatsStore, registry: Registry, today) -> dict[str, int]:
    metrics = {m.name: m.context for m in registry.metrics.values()
               if m.context.datatype in store.facts}
    return key_figures(store, metrics, today=today)


def run_report(
    spark: SparkSession,
    store: StatsStore,
    registry: Registry,
    report: str = "main",
    base_context: Context | None = None,
    today: dt.date | None = None,
    privileges: frozenset[str] | set[str] = frozenset(),
) -> dict[str, object]:
    """Execute every item of a report; returns {item_key: DataFrame|dict}.
    Each item gets its OWN context clone (Report.pm:133: isolation);
    items with an unmet ``priv`` or an ``appears`` list not matching the
    context's set_name are skipped."""
    rdef = registry.reports[report]
    base = base_context or Context()
    out: dict[str, object] = {}
    for key, item in _visible_items(rdef, base, privileges):
        ctx = replace(
            base,
            datatype=item.datatype,
            datafilter=item.datafilter,
            grouping=item.grouping or base.grouping,
        )
        if item.plugin == "KeyFigures":
            out[key] = _key_figures(store, registry, today)
        elif item.plugin == "Graph":
            out[key] = graph_series(
                spark,
                store,
                ctx,
                resolution=item.options.get("date_resolution", "day"),
                cumulative=item.options.get("cumulative", False),
                show_average=item.options.get("show_average", False),
                today=today,
            )
        elif item.plugin == "Counter":
            out[key] = sum_all(compile_context(store, ctx, today=today))
        elif item.plugin in ("Table", "PieChart"):
            out[key] = top_table(
                store,
                ctx,
                item.options.get("top", "eprint"),
                item.options.get("limit", 10),
                item.options.get("data_min"),
                today=today,
            )
        elif item.plugin == "GeoChart":
            # GeoChart.pm:16-21: select fields=['value'] — group the fact
            # by its value column (country codes)
            out[key] = compile_context(
                store, replace(ctx, grouping="value"), today=today
            )
        elif item.plugin == "Grid":
            # Grid.pm: layout container — run the nested items
            from irstats2_spark.plans.registry import ReportDef

            sub = ReportDef(name=f"{rdef.name}.{key}",
                            items=tuple(item.options.get("items", ())))
            registry.reports[sub.name] = sub
            out[key] = run_report(
                spark, store, registry, sub.name, base, today, privileges
            )
        elif item.plugin == "ReportHeader":
            continue  # presentational only (ReportHeader.pm)
        else:
            raise ValueError(f"unknown view plugin '{item.plugin}'")
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

    Each panel is requested through ``plans.http.handle_get`` with the
    parameters its page sends, so the cached entry sits under the very
    key a user's request looks up. KeyFigures, which the page computes
    while rendering rather than through /cgi/stats/get, is cached under
    ``{report, item}``. Returns the number of panels warmed."""
    from irstats2_spark.plans.http import handle_get

    n = 0
    for key, item in _visible_items(registry.reports[report], Context(), frozenset()):
        if item.plugin == "ReportHeader":
            continue
        if item.plugin == "KeyFigures":
            cache.put(
                {"report": report, "item": key},
                [_key_figures(store, registry, today)],
            )
        else:
            params = {"view": item.plugin, "datatype": item.datatype, **item.options}
            handle_get(
                spark, store, "/cgi/stats/report", params, cache=cache, today=today
            )
        n += 1
    return n
