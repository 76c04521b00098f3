"""End-to-end ETL orchestration (SURVEY §3.3): raw events -> silver ->
gold facts + dimensions -> StatsStore for the query layer.

The reference's nightly process_stats is a single-threaded per-record
loop; here it is: one parse+filter pass producing a cached silver
DataFrame, then N independent groupBy jobs (one per datatype) off it —
one scan feeding all processors, exactly the restructuring SURVEY §3.3
prescribes. Incremental/streaming variants live in streaming/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from irstats2_spark.etl import processors as P
from irstats2_spark.operators.filters import repeat_filter, robots_filter
from irstats2_spark.plans.builder import StatsStore
from irstats2_spark.sources.access_log import with_event_columns


def build_silver_events(
    events: DataFrame,
    robots_kwargs: dict | None = None,
) -> DataFrame:
    """P8 + P9 + P10 over parsed access events (the columns of
    ``sources.access_log.parse_access_lines``). Returns the silver DataFrame with derived columns."""
    ev = events if "epoch" in events.columns else with_event_columns(events)
    ev = ev.filter(ev.datestamp.isNotNull())  # P10 null-year guard
    ev = robots_filter(ev, **(robots_kwargs or {}))
    return repeat_filter(ev)


def build_store(
    silver_events: DataFrame,
    eprints: DataFrame | None = None,
    documents: DataFrame | None = None,
    history: DataFrame | None = None,
    subjects: DataFrame | None = None,
    geoip_ranges: DataFrame | None = None,
    host: str | None = None,
    base_url: str | None = None,
    with_dimensions: bool = True,
) -> StatsStore:
    """Run every applicable processor and assemble the StatsStore.

    Cache lifecycle: the silver scan is pinned because every processor
    in the returned store derives from it lazily; the CALLER owns the
    pin — write the facts, then clearCache() (pipeline.lifecycle).
    """
    silver = silver_events.cache()

    facts: dict[str, DataFrame] = {
        "downloads": P.downloads(silver),
        "views": P.views(silver),
        "doc_downloads": P.doc_downloads(silver),
        "browsers": P.browsers(silver),
        "referrer": P.referrer(silver, host=host),
        "search_terms": P.search_terms(silver, base_url=base_url),
    }
    if geoip_ranges is not None:
        facts["countries"] = P.countries(silver, geoip_ranges)
    if eprints is not None:
        facts["deposits"] = P.deposits(eprints)
        if documents is not None:
            facts["doc_access"] = P.doc_access(eprints, documents)
            facts["doc_format"] = P.doc_format(eprints, documents)
    if history is not None:
        facts["history"] = P.history_actions(history)
    facts["cache_downloads"] = P.lifetime_cache(facts["downloads"], "downloads")
    facts["cache_views"] = P.lifetime_cache(facts["views"], "views")

    dims = {"sets": None, "groupings": None, "rendered": None}
    if with_dimensions and eprints is not None:
        from irstats2_spark.etl.sets import build_dimensions

        dims = build_dimensions(eprints, subjects=subjects)

    return StatsStore(
        facts=facts,
        sets=dims["sets"],
        groupings=dims["groupings"],
        rendered=dims["rendered"],
        eprints=eprints,
    )
