"""Fact-table processors (SURVEY §2.4 A3/A4, FIXTURES §7).

Each processor is one `groupBy(date_key, entity, value).count()` off a
SHARED parsed+filtered access-events DataFrame — the Spark translation of
the reference's in-memory `cache{date}{epid}{value}++` accumulation
(Processor/Access/Downloads.pm:35-54 et al.). Spark's partial aggregation
IS the reference's 100k-record in-memory combine, minus the flush cadence.

Every function returns the common FACT shape
`(eprintid int, datestamp int YYYYMMDD, value string, count long)`
(Handler.pm:147-199). Inputs must already be robots/repeat-filtered
(operators.filters) and carry the derived columns of
`with_event_columns` (date_key, epoch, is_download).

Scale: all processors groupBy (date, id, value) — high-cardinality,
well-distributed keys; each is a single shuffle with map-side combine.
Running all access processors over one cached silver DF means ONE scan of
the raw data feeding N cheap aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from irstats2_spark.functions.classify import classify_browser, referrer_label, referrer_labelled
from irstats2_spark.functions.text import extract_search_terms
from irstats2_spark.functions.urls import percent_decode, url_hostname, url_protocol, url_uri


def _fact(df: DataFrame, id_col, value_col) -> DataFrame:
    return (
        df.groupBy(
            id_col.cast("int").alias("eprintid"),
            F.col("date_key").alias("datestamp"),
            value_col.alias("value"),
        )
        .agg(F.count(F.lit(1)).alias("count"))
    )


# -- Access processors -------------------------------------------------------

def downloads(events: DataFrame) -> DataFrame:
    """'downloads' datatype (Downloads.pm:44-51): downloads per eprint/day."""
    return _fact(
        events.filter(F.col("is_download") & F.col("referent_id").isNotNull()),
        F.col("referent_id"),
        F.lit("downloads"),
    )


def views(events: DataFrame) -> DataFrame:
    """'views' datatype (Downloads.pm:44-51): abstract hits per eprint/day."""
    return _fact(
        events.filter(~F.col("is_download") & F.col("referent_id").isNotNull()),
        F.col("referent_id"),
        F.lit("views"),
    )


def doc_downloads(events: DataFrame) -> DataFrame:
    """'doc_downloads' (DocDownloads.pm:34-49): keyed by DOCID in the
    eprintid column (reference quirk kept)."""
    return _fact(
        events.filter(F.col("is_download") & F.col("referent_docid").isNotNull()),
        F.col("referent_docid"),
        F.lit("downloads"),
    )


def browsers(events: DataFrame) -> DataFrame:
    """'browsers' (Browsers.pm:44-71): UA classified, downloads AND views."""
    src = events.filter(
        F.col("referent_id").isNotNull()
        & F.col("requester_user_agent").isNotNull()
        & (F.col("requester_user_agent") != "")
    )
    return _fact(src, F.col("referent_id"), classify_browser(F.col("requester_user_agent")))


def referrer(
    events: DataFrame,
    host: str | None = None,
    local_domains: dict[str, str] | None = None,
) -> DataFrame:
    """'referrer' (Referrer.pm:39-59): percent-decoded referrer classified;
    rows with unparsable hostname dropped. The drop tests the split parts,
    not the label: a filter on the label copies the whole classification
    into generated code that outgrows the 64 KB method limit."""
    ref = percent_decode(F.col("referring_entity_id"))
    parsed = events.filter(
        F.col("referent_id").isNotNull()
        & F.col("referring_entity_id").isNotNull()
        & (F.col("referring_entity_id") != "")
    ).withColumns(
        {"__proto": url_protocol(ref), "__host": url_hostname(ref), "__uri": url_uri(ref)}
    )
    proto, hostname, uri = F.col("__proto"), F.col("__host"), F.col("__uri")
    labeled = parsed.filter(referrer_labelled(proto, hostname, local_domains))
    label = referrer_label(proto, hostname, uri, host=host, local_domains=local_domains)
    return _fact(labeled, F.col("referent_id"), label)


def search_terms(
    events: DataFrame,
    base_url: str | None = None,
    stopwords: list[str] | None = None,
) -> DataFrame:
    """'search_terms' (SearchTerms.pm:76-172): downloads only; referrer
    decoded, search params extracted, words normalized and exploded."""
    src = events.filter(
        F.col("is_download")
        & F.col("referent_id").isNotNull()
        & F.col("referring_entity_id").isNotNull()
        & (F.col("referring_entity_id") != "")
    ).withColumn("__ref", percent_decode(F.col("referring_entity_id")))
    words = extract_search_terms(src, "__ref", base_url=base_url, stopwords=stopwords)
    return _fact(words, F.col("referent_id"), F.col("word"))


def countries(events: DataFrame, geoip_ranges: DataFrame) -> DataFrame:
    """'countries' (Country.pm:75-105): downloads only, GeoIP range join."""
    from irstats2_spark.functions.geo import with_country

    src = events.filter(
        F.col("is_download")
        & F.col("referent_id").isNotNull()
        & F.col("requester_id").isNotNull()
    )
    located = with_country(src, geoip_ranges).filter(
        F.col("country_iso2").isNotNull() & (F.col("country_iso2") != "")
    )
    return _fact(located, F.col("referent_id"), F.col("country_iso2"))


# -- EPrint dataset processors ----------------------------------------------

def _eprint_date_key(eprints: DataFrame):
    """datestamp || lastmod fallback (Deposits.pm:38), as int YYYYMMDD."""
    return F.date_format(
        F.coalesce(F.col("datestamp"), F.col("lastmod")), "yyyyMMdd"
    ).cast("int")


def deposits(eprints: DataFrame) -> DataFrame:
    """'deposits' (Deposits.pm:24-47): one count per eprint at its deposit
    date, value = eprint_status."""
    src = eprints.filter(F.col("eprint_status").isNotNull()).withColumn(
        "date_key", _eprint_date_key(eprints)
    )
    return _fact(src, F.col("eprintid"), F.col("eprint_status"))


def doc_access(eprints: DataFrame, documents: DataFrame) -> DataFrame:
    """'doc_access' (DocumentAccess.pm:25-68): archive eprints only; emits
    full_text/no_full_text AND open_access/no_open_access per eprint."""
    docs_per_eprint = documents.groupBy("eprintid").agg(
        F.count(F.lit(1)).alias("__ndocs"),
        F.max(F.when(F.col("is_public"), 1).otherwise(0)).alias("__public"),
    )
    src = (
        eprints.filter(F.col("eprint_status") == "archive")
        .withColumn("date_key", _eprint_date_key(eprints))
        # both sides are eprint-cardinality (dimension-sized, but can be
        # millions of rows) — let AQE pick the strategy rather than forcing
        # a broadcast that might not fit
        .join(docs_per_eprint, "eprintid", "left")
    )
    fulltext = src.withColumn(
        "value",
        F.when(F.coalesce(F.col("__ndocs"), F.lit(0)) > 0, "full_text").otherwise(
            "no_full_text"
        ),
    )
    openaccess = src.withColumn(
        "value",
        F.when(F.coalesce(F.col("__public"), F.lit(0)) == 1, "open_access").otherwise(
            "no_open_access"
        ),
    )
    both = fulltext.unionByName(openaccess)
    return _fact(both, F.col("eprintid"), F.col("value"))


def doc_format(eprints: DataFrame, documents: DataFrame) -> DataFrame:
    """'doc_format' (DocumentFormat.pm:32-59): archive eprints; one count
    per document format."""
    src = (
        eprints.filter(F.col("eprint_status") == "archive")
        .withColumn("date_key", _eprint_date_key(eprints))
        .select("eprintid", "date_key")
        .join(documents.select("eprintid", "format"), "eprintid", "inner")
        .filter(F.col("format").isNotNull())
    )
    return _fact(src, F.col("eprintid"), F.col("format"))


# -- History processors ------------------------------------------------------

VALID_HISTORY_ACTIONS = {
    "modify", "destroy", "create",
    "move_inbox_to_buffer", "move_buffer_to_archive", "move_buffer_to_inbox",
    "move_archive_to_buffer", "move_archive_to_deletion", "move_inbox_to_archive",
}


def history_actions(history: DataFrame) -> DataFrame:
    """'history' (History/Actions.pm:36-59): eprint dataset rows, valid
    actions only, counted per eprint/day."""
    src = (
        history.filter(
            (F.col("datasetid") == "eprint")
            & F.col("action").isin(*sorted(VALID_HISTORY_ACTIONS))
            & F.col("objectid").isNotNull()
            & F.col("timestamp").isNotNull()
        )
        .withColumn("date_key", F.date_format("timestamp", "yyyyMMdd").cast("int"))
    )
    return _fact(src, F.col("objectid"), F.col("action"))


# -- Lifetime caches (A4), not built -----------------------------------------

def lifetime_cache(fact: DataFrame, value_label: str) -> DataFrame:
    """'cache_downloads'/'cache_views' (CacheDownloads.pm:34-50): lifetime
    SUM(count) per eprint, datestamp=0, value=the datatype label.

    The nightly run no longer builds these copies: a lifetime request is
    one grouped sum over the daily fact. The function stays defined only
    because the benchmark's per-layer tracer (``perfbench/layers.py``)
    wraps it by name; delete it when the benchmark drops that hook."""
    return fact.groupBy("eprintid").agg(
        F.sum("count").alias("count")
    ).select(
        "eprintid",
        F.lit(0).alias("datestamp"),
        F.lit(value_label).alias("value"),
        "count",
    )
