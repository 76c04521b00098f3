"""Config-driven registries (SURVEY §2.10): KeyFigures metrics and report
definitions — the reference's report plugin surface
(View/KeyFigures.pm:13-68, cfg.d/z_irstats2.pl:319-577) as plain Python
registries. The nightly pipeline (the reference's filter and processor
plugins, Handler.pm:1049-1113) is defined once, in ``etl.pipeline``.

A deployment registers its own metrics and reports exactly like the
reference's $c->{irstats2} config blocks; the defaults mirror the shipped
configuration.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from irstats2_spark.plans.context import Context


@dataclass(frozen=True)
class MetricDef:
    """KeyFigures metric: a Context transformer (KeyFigures.pm:13-68)."""

    name: str
    context: Context
    phrase: str = ""


@dataclass(frozen=True)
class ReportItem:
    """One panel of a report page (z_irstats2.pl:319-577).

    ``priv`` is the privilege required to see the panel
    (Screen/IRStats2/Report.pm:112-117); ``appears`` optionally gates the
    panel to specific set contexts (z_irstats2.pl:431-434: e.g. a panel
    shown only on repository-wide pages, set_name=None).

    ``options`` are the view options of the panel's /cgi/stats/get
    request, in request form: strings such as ``"true"`` or ``"10"``,
    which the parameter whitelist accepts (Utils.pm:52-110). A Grid's
    ``options["items"]`` holds its sub-panels instead."""

    plugin: str  # view name: Graph | Table | Counter | KeyFigures | ...
    datatype: str = "downloads"
    datafilter: str | None = None
    grouping: str | None = None
    options: dict = field(default_factory=dict)
    priv: str | None = None
    appears: tuple[str | None, ...] | None = None  # allowed set_names


@dataclass(frozen=True)
class ReportDef:
    name: str
    items: tuple[ReportItem, ...]


# The reference's default `main` report (z_irstats2.pl:321-364).
DEFAULT_REPORTS: dict[str, ReportDef] = {
    "main": ReportDef(
        name="main",
        items=(
            ReportItem(plugin="KeyFigures"),
            ReportItem(
                plugin="Graph",
                datatype="downloads",
                options={"date_resolution": "month", "graph_type": "column"},
            ),
            ReportItem(plugin="Table", datatype="downloads", options={"top": "eprint"}),
            ReportItem(
                plugin="Table", datatype="referrer", options={"top": "referrer"}
            ),
            ReportItem(
                plugin="Table",
                datatype="search_terms",
                options={"top": "search_terms"},
            ),
        ),
    ),
}


class Registry:
    """Engine-wide registry of KeyFigures metrics and report pages."""

    def __init__(self) -> None:
        self.metrics: dict[str, MetricDef] = {}
        self.reports: dict[str, ReportDef] = dict(DEFAULT_REPORTS)

    def register_metric(self, m: MetricDef) -> None:
        self.metrics[m.name] = m


def default_registry() -> Registry:
    """Registry mirroring the reference's shipped metrics and reports."""
    reg = Registry()
    reg.register_metric(
        MetricDef("downloads", Context(datatype="downloads", range="_ALL_"))
    )
    reg.register_metric(MetricDef("deposits", Context(datatype="deposits", range="_ALL_")))
    return reg
