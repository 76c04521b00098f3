"""IRStats2-semantics catalog queries over the driver's test tables.

These run the engine's REAL operator implementations (processors, filters,
classifiers, Context compilation) on the driver's `events` table via the
access-log adapter (sources.access_log.events_from_driver_table), with
DuckDB oracles that replicate the adapter mapping in plain SQL. This makes
the correctness gate exercise the actual engine code paths, not ad-hoc
per-query DataFrame code.

Adapter mapping (kept in sync with events_from_driver_table):
  eprintid = user_id % 100, download <=> event_type = 'click',
  docid = event_id % 500, date_key = int yyyyMMdd of ts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irstats2_spark.catalog import register
from irstats2_spark.etl import processors as P
from irstats2_spark.operators.filters import repeat_filter, robots_filter
from irstats2_spark.plans.builder import StatsStore, compile_context
from irstats2_spark.plans.context import Context
from irstats2_spark.plans.views import top_table
from irstats2_spark.sources.access_log import events_from_driver_table
from irstats2_spark.sources.testdata import load_table


def _adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_from_driver_table(load_table(spark, "events", sf_dir))


# ---------------------------------------------------------------------------
# A3/S5 — the downloads/views/doc_downloads fact builders (ETL core).
# ---------------------------------------------------------------------------
@register(
    "etl_downloads_fact",
    """
    SELECT CAST(user_id % 100 AS INT) AS eprintid,
           CAST(strftime(ts, '%Y%m%d') AS INT) AS datestamp,
           'downloads' AS value,
           COUNT(*) AS count
    FROM events WHERE event_type = 'click'
    GROUP BY 1, 2
    """,
    doc="A3 Downloads.pm:44-51 via the real processor on adapted events",
)
def etl_downloads_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.downloads(_adapted(spark, sf_dir))


@register(
    "etl_views_fact",
    """
    SELECT CAST(user_id % 100 AS INT) AS eprintid,
           CAST(strftime(ts, '%Y%m%d') AS INT) AS datestamp,
           'views' AS value,
           COUNT(*) AS count
    FROM events WHERE event_type <> 'click'
    GROUP BY 1, 2
    """,
    doc="A3 Downloads.pm:44-51 (views side)",
)
def etl_views_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.views(_adapted(spark, sf_dir))


@register(
    "etl_doc_downloads_fact",
    """
    SELECT CAST(event_id % 500 AS INT) AS eprintid,
           CAST(strftime(ts, '%Y%m%d') AS INT) AS datestamp,
           'downloads' AS value,
           COUNT(*) AS count
    FROM events WHERE event_type = 'click'
    GROUP BY 1, 2
    """,
    doc="DocDownloads.pm:34-49 — docid-keyed fact (reference quirk)",
)
def etl_doc_downloads_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return P.doc_downloads(_adapted(spark, sf_dir))


# ---------------------------------------------------------------------------
# Context compilation paths (Handler.pm extract_eprint_data).
# ---------------------------------------------------------------------------
def _store(spark: SparkSession, sf_dir: str) -> StatsStore:
    ev = _adapted(spark, sf_dir)
    return StatsStore(facts={"downloads": P.downloads(ev), "views": P.views(ev)})


@register(
    "ctx_daily_series",
    """
    SELECT CAST(strftime(ts, '%Y%m%d') AS INT) AS datestamp,
           COUNT(*) AS count
    FROM events
    WHERE event_type = 'click'
      AND CAST(strftime(ts, '%Y%m%d') AS INT) BETWEEN 20240105 AND 20240125
    GROUP BY 1
    """,
    doc="full Context path: date-range predicate + datestamp grouping (P3+A1)",
)
def ctx_daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _store(spark, sf_dir)
    return compile_context(
        store,
        Context(datatype="downloads", from_date="20240105", to_date="20240125"),
        ("datestamp",),
    )


@register(
    "ctx_lifetime_total",
    """
    SELECT COUNT(*) AS count FROM events WHERE event_type = 'click'
    """,
    doc="undated lifetime total: one sum over the daily fact (the reference's "
    "cache-table rewrite, Data.pm:128-139, is not kept)",
)
def ctx_lifetime_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _store(spark, sf_dir)
    return compile_context(store, Context(datatype="downloads", range="_ALL_"))


@register(
    "ctx_top_eprints",
    """
    SELECT CAST(user_id % 100 AS INT) AS eprintid, COUNT(*) AS count
    FROM events WHERE event_type <> 'click'
    GROUP BY 1
    ORDER BY count DESC, eprintid ASC
    LIMIT 10
    """,
    doc="O3 top-N routing through top_table: top='eprint' + order/limit "
    "(Table.pm:37-89)",
)
def ctx_top_eprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _store(spark, sf_dir)
    return top_table(store, Context(datatype="views", range="_ALL_"), "eprint", 10)


@register(
    "ctx_single_eprint",
    """
    SELECT CAST(strftime(ts, '%Y%m%d') AS INT) AS datestamp, COUNT(*) AS count
    FROM events
    WHERE event_type = 'click' AND user_id % 100 = 7
    GROUP BY 1
    """,
    doc="eprint fast path (Data.pm:142-152): set_name='eprint' => plain filter",
)
def ctx_single_eprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _store(spark, sf_dir)
    return compile_context(
        store,
        Context(datatype="downloads", set_name="eprint", set_value="7", range="_ALL_"),
        ("datestamp",),
    )


# ---------------------------------------------------------------------------
# P8 robots filter — UA synthesized deterministically from event_type so the
# oracle can replicate the outcome of the real rlike alternation.
# ---------------------------------------------------------------------------
@register(
    "robots_filter_outcome",
    """
    SELECT event_type, COUNT(*) AS count
    FROM events
    WHERE event_type NOT IN ('error', 'signup')   -- robot UAs assigned to these
    GROUP BY event_type
    """,
    doc="P8 Robots.pm:139-147 — synthetic UA per event_type, robot rows dropped",
)
def robots_filter_outcome(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir).withColumn(
        "requester_user_agent",
        F.when(F.col("event_type") == "error", "Googlebot/2.1 (+http://google.com/bot)")
        .when(F.col("event_type") == "signup", "msnbot/1.1")
        .otherwise("Mozilla/5.0 (Windows NT 10.0) Chrome/120"),
    ).withColumn("requester_id", F.lit("203.0.113.7"))
    kept = robots_filter(ev)
    return kept.groupBy("event_type").agg(F.count(F.lit(1)).alias("count"))


# ---------------------------------------------------------------------------
# F5 browser classification through the real when-chain.
# ---------------------------------------------------------------------------
@register(
    "browser_classification",
    """
    SELECT CASE user_id % 5
             WHEN 0 THEN 'Google Chrome'
             WHEN 1 THEN 'Android'
             WHEN 2 THEN 'Firefox'
             WHEN 3 THEN 'Microsoft Internet Explorer'
             ELSE 'Other'
           END AS value,
           COUNT(*) AS count
    FROM events
    GROUP BY 1
    """,
    doc="F5 Browsers.pm:12-71 — signature chain incl. Android-before-Chrome order",
)
def browser_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.functions.classify import classify_browser

    ua = (
        F.when(F.col("user_id") % 5 == 0, "Mozilla/5.0 AppleWebKit Chrome/120.0 Safari/537.36")
        .when(F.col("user_id") % 5 == 1, "Mozilla/5.0 (Linux; Android 13; Pixel) Chrome/120 Safari/537")
        .when(F.col("user_id") % 5 == 2, "Mozilla/5.0 (X11; Linux) Gecko Firefox/115.0")
        .when(F.col("user_id") % 5 == 3, "Mozilla/4.0 (compatible; MSIE 8.0; Windows NT)")
        .otherwise("UnknownAgent/1.0")
    )
    ev = load_table(spark, "events", sf_dir).withColumn("ua", ua)
    return (
        ev.select(classify_browser(F.col("ua")).alias("value"))
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("count"))
    )


# ---------------------------------------------------------------------------
# F4 referrer classification through the real chain (incl. parse_url).
# ---------------------------------------------------------------------------
@register(
    "referrer_classification",
    """
    SELECT CASE user_id % 7
             WHEN 0 THEN 'Google'
             WHEN 1 THEN 'Yahoo'
             WHEN 2 THEN 'MSN/Bing'
             WHEN 3 THEN 'Internal (Abstract page)'
             WHEN 4 THEN 'Internal (Search)'
             WHEN 5 THEN 'Facebook'
             ELSE 'some-random-host.net'
           END AS value,
           COUNT(*) AS count
    FROM events
    GROUP BY 1
    """,
    doc="F4 Referrer.pm:61-116 — full classification incl. bare-number and own-host URIs",
)
def referrer_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.functions.classify import classify_referrer

    ref = (
        F.when(F.col("user_id") % 7 == 0, "http://www.google.co.uk/search?q=x")
        .when(F.col("user_id") % 7 == 1, "http://search.yahoo.com/search?p=x")
        .when(F.col("user_id") % 7 == 2, "http://www.bing.com/search?q=x")
        .when(F.col("user_id") % 7 == 3, "1234")  # bare eprintid => localhost
        .when(F.col("user_id") % 7 == 4, "http://myrepo.org/cgi/search/simple?q=x")
        .when(F.col("user_id") % 7 == 5, "http://m.facebook.com/share")
        .otherwise("http://some-random-host.net/page")
    )
    ev = load_table(spark, "events", sf_dir).withColumn("ref", ref)
    return (
        ev.select(classify_referrer(F.col("ref"), host="myrepo.org").alias("value"))
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("count"))
    )


# ---------------------------------------------------------------------------
# F6 search-term extraction through the nightly search_terms processor.
# ---------------------------------------------------------------------------
@register(
    "search_term_extraction",
    """
    WITH src AS (
        SELECT CASE user_id % 3
                 WHEN 0 THEN 'http://www.google.com/search?q=Spark+engine+the+x'
                 WHEN 1 THEN 'http://search.yahoo.com/search?p=Analytics+"quoted"'
                 ELSE 'http://myrepo.org/cgi/search/simple?q=scale+测试'
               END AS ref
        FROM events WHERE event_type = 'click'
    ),
    words AS (
        SELECT unnest(string_split(
          CASE WHEN ref LIKE '%yahoo%'
               THEN regexp_extract(ref, 'p=([^&.]*)', 1)
               ELSE regexp_extract(ref, 'q=([^&.]*)', 1) END, '+')) AS raw
        FROM src
    ),
    norm AS (
        SELECT lower(trim(regexp_replace(raw, '["'',;.]', '', 'g'))) AS word
        FROM words
    )
    SELECT word, COUNT(*) AS count
    FROM norm
    WHERE length(word) >= 2
      AND word NOT IN ('or','of','at','and','in','to','the','a','an','for','how',
                       'what','why','whom','which','into','on','is','are','have',
                       'has','do','does','go','goes','with','com','by','up')
    GROUP BY word
    """,
    doc="F6 SearchTerms.pm:76-198 — engine param routing + normalization",
)
def search_term_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ref = (
        F.when(F.col("user_id") % 3 == 0, "http://www.google.com/search?q=Spark+engine+the+x")
        .when(F.col("user_id") % 3 == 1, 'http://search.yahoo.com/search?p=Analytics+"quoted"')
        .otherwise("http://myrepo.org/cgi/search/simple?q=scale+测试")
    )
    # the adapter drops user_id, which the referrer is built from
    ev = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            (F.col("user_id") % 100).cast("int").alias("referent_id"),
            ref.alias("referring_entity_id"),
            F.lit(True).alias("is_download"),
            F.date_format("ts", "yyyyMMdd").cast("int").alias("date_key"),
        )
    )
    terms = P.search_terms(ev, base_url="myrepo.org")
    return terms.groupBy(F.col("value").alias("word")).agg(F.sum("count").alias("count"))


# ---------------------------------------------------------------------------
# F7 GeoIP range join with an inline ranges table.
# ---------------------------------------------------------------------------
@register(
    "geoip_range_join",
    """
    WITH ranges(ip_start_long, ip_end_long, country_iso2) AS (
        VALUES (167772160, 167772415, 'US'),     -- 10.0.0.0   - 10.0.0.255
               (167772416, 167772671, 'DE'),     -- 10.0.1.0   - 10.0.1.255
               (167837696, 184549375, 'JP')      -- 10.1.0.0   - 10.255.255.255
    ),
    ips AS (
        SELECT 167772160 + (user_id % 1024) AS ipl FROM events WHERE event_type = 'click'
    )
    SELECT r.country_iso2 AS value, COUNT(*) AS count
    FROM ips i JOIN ranges r ON i.ipl BETWEEN r.ip_start_long AND r.ip_end_long
    GROUP BY 1
    """,
    doc="F7 Country.pm:75-105 — broadcast IP-range join (10.0.x.x synthetic IPs)",
)
def geoip_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.functions.geo import with_country

    # literal dims as a VALUES LocalRelation, not createDataFrame: a
    # parallelized 3-row RDD spreads over defaultParallelism partitions
    # and every broadcast build then runs a 32-task job; LocalTableScan
    # broadcasts driver-side with no job at all
    ranges = spark.sql(
        """
        SELECT * FROM VALUES (167772160, 167772415, 'US'),
                             (167772416, 167772671, 'DE'),
                             (167837696, 184549375, 'JP')
        AS t(ip_start_long, ip_end_long, country_iso2)
        """
    )
    ev = (
        load_table(spark, "events", sf_dir)
        .filter(F.col("event_type") == "click")
        .withColumn(
            "requester_id",
            F.concat(
                F.lit("10.0."),
                ((F.col("user_id") % 1024) / 256).cast("long").cast("string"),
                F.lit("."),
                (F.col("user_id") % 256).cast("string"),
            ),
        )
    )
    located = with_country(ev, ranges).filter(
        F.col("country_iso2").isNotNull()
    )
    return located.groupBy(F.col("country_iso2").alias("value")).agg(
        F.count(F.lit(1)).alias("count")
    )


# ---------------------------------------------------------------------------
# P9 repeat filter — exact first-kept-anchor semantics (Repeat.pm:63-102).
# The operator is a per-key sequential fold (mapInPandas); the DuckDB oracle
# reproduces the greedy fold with list_reduce over the epoch-sorted per-key
# event list, acc-encoded as anchor*1e6 + (kept-1) (kept-per-key < 1e6 at
# any gate SF; epoch*1e6 < 2^53). The adapter key fields are all functions
# of (user_id, event_id, event_type), mirrored from
# sources/access_log.events_from_driver_table.
# ---------------------------------------------------------------------------
@register(
    "repeat_filter_exact",
    """
    WITH ev AS (
        SELECT CAST(user_id % 100 AS INT) AS eprintid,
               CASE WHEN event_type = 'click' THEN event_id % 500 END AS docid,
               user_id % 256 AS ip_a, (user_id // 256) % 256 AS ip_b,
               epoch_us(ts) // 1000000 AS e
        FROM events
    ),
    folded AS (
        SELECT eprintid,
               list_reduce(list(e * 1000000 ORDER BY e), (acc, x) -> CASE
                   WHEN x // 1000000 - acc // 1000000 > 3600
                   THEN x + acc % 1000000 + 1 ELSE acc END) % 1000000 + 1 AS kept
        FROM ev GROUP BY eprintid, docid, ip_a, ip_b
    )
    SELECT eprintid, CAST(SUM(kept) AS BIGINT) AS count
    FROM folded GROUP BY 1
    """,
    doc="P9 Repeat.pm:63-102 — first-kept-anchor dedup; oracle = greedy "
    "list_reduce fold per dedup key",
)
def repeat_filter_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _adapted(spark, sf_dir)
    kept = repeat_filter(ev, timeout=3600)
    return kept.groupBy(F.col("referent_id").alias("eprintid")).agg(
        F.count(F.lit(1)).alias("count")
    )


# ---------------------------------------------------------------------------
# Full ETL pipeline end-to-end (SURVEY §3.3, etl/pipeline.py): adapter ->
# robots filter (full public lists; bot UAs assigned to user_id%10 in
# {0,1} — 'aria2' is caught ONLY by the full list) -> exact repeat filter
# -> views processor. The oracle replays the whole chain in SQL: the
# robots drop is a plain predicate, and the repeat fold returns the KEPT
# EPOCHS as a list (list-of-lists list_reduce) so the daily fact can be
# rebuilt from them. Views all share docid 'X', and clicks can never
# suppress a view (different dedup key), so folding views alone is exact.
# ---------------------------------------------------------------------------
@register(
    "etl_silver_views_fact",
    """
    WITH filtered AS (
        SELECT user_id, ts FROM events
        WHERE user_id % 10 NOT IN (0, 1)    -- robot UAs assigned to these
          AND event_type <> 'click'         -- views = abstract pages
    ),
    keyed AS (
        SELECT CAST(user_id % 100 AS INT) AS eprintid,
               user_id % 256 AS ip_a, (user_id // 256) % 256 AS ip_b,
               epoch_us(ts) // 1000000 AS e
        FROM filtered
    ),
    folded AS (
        SELECT eprintid,
               list_reduce(
                   list_transform(list(e ORDER BY e), x -> [x]),
                   (acc, x) -> CASE WHEN x[1] - acc[-1] > 3600
                               THEN list_concat(acc, x) ELSE acc END) AS kept_es
        FROM keyed GROUP BY eprintid, ip_a, ip_b
    ),
    kept AS (SELECT eprintid, unnest(kept_es) AS e FROM folded)
    SELECT eprintid,
           CAST(strftime(make_timestamp(e * 1000000), '%Y%m%d') AS INT) AS datestamp,
           'views' AS value,
           COUNT(*) AS count
    FROM kept GROUP BY 1, 2
    """,
    doc="SURVEY 3.3 end-to-end: adapter -> robots (full UA list; IP-prefix "
    "list disabled because the oracle models the UA predicate only — the "
    "synthetic 10.A.B.1 IPs would hit unanchored prefixes like '100.24.' "
    "at larger user_id domains and silently diverge) -> exact repeat -> "
    "views fact, oracle replays the whole chain incl. the fold",
)
def etl_silver_views_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.etl.pipeline import build_silver_events

    ev = load_table(spark, "events", sf_dir)
    ua = (
        F.when(ev.user_id % 10 == 0, "Googlebot/2.1 (+http://google.com/bot)")
        .when(ev.user_id % 10 == 1, "aria2/1.36.0")  # full-list-only pattern
        .otherwise("Mozilla/5.0 (Windows NT 10.0) Chrome/120")
    )
    adapted = events_from_driver_table(ev, user_agent=ua)
    # ip_prefixes=[]: the oracle SQL above models the robots drop as the UA
    # predicate (user_id % 10 IN (0,1)). The default IP-prefix list would
    # ALSO drop synthetic IPs whose 2nd/3rd octets collide with a public
    # prefix (e.g. user_id 6244 -> 10.100.24.1 matches '100.24.') — a
    # divergence invisible at gate SFs where user_id stays small. The UA
    # path is what this gate verifies; robots_filter_outcome covers the
    # IP-prefix predicate with matched test vectors.
    silver = build_silver_events(adapted, robots_kwargs={"ip_prefixes": []})
    return P.views(silver)


# ---------------------------------------------------------------------------
# F10 value anonymization.
# ---------------------------------------------------------------------------
@register(
    "anon_md5_values",
    """
    SELECT md5(event_type) AS value, COUNT(*) AS count
    FROM events GROUP BY 1
    """,
    doc="F10 Sets.pm:341-360 — md5 anonymization of set values",
)
def anon_md5_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy(F.md5(F.col("event_type")).alias("value")).agg(
        F.count(F.lit(1)).alias("count")
    )


# ---------------------------------------------------------------------------
# The flagship view (SURVEY §7.2): monthly downloads, whole repository,
# all time, densified — the reference's default `main` report headline,
# through the FULL engine path (adapter -> processor -> Context -> view).
# ---------------------------------------------------------------------------
@register(
    "view_monthly_graph",
    """
    WITH daily AS (
        SELECT CAST(strftime(ts, '%Y%m%d') AS INT) AS d, COUNT(*) AS c
        FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    bounds AS (
        SELECT CAST(MIN(d) // 100 AS INT) AS lo, CAST(MAX(d) // 100 AS INT) AS hi
        FROM daily
    ),
    months AS (
        SELECT CAST((2000 + m // 12) * 100 + (m % 12) + 1 AS INT) AS datestamp
        FROM generate_series(0, 1199) t(m), bounds
        WHERE (2000 + m // 12) * 100 + (m % 12) + 1 BETWEEN lo AND hi
    ),
    monthly AS (
        SELECT CAST(d // 100 AS INT) AS datestamp, CAST(SUM(c) AS BIGINT) AS c
        FROM daily GROUP BY 1
    )
    SELECT m.datestamp, CAST(COALESCE(mo.c, 0) AS BIGINT) AS count
    FROM months m LEFT JOIN monthly mo ON m.datestamp = mo.datestamp
    """,
    doc="SURVEY 7.2 minimum slice: Graph view, month resolution, _ALL_ range",
)
def view_monthly_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.plans.views import graph_series

    store = _store(spark, sf_dir)
    return graph_series(
        spark,
        store,
        Context(datatype="downloads", range="_ALL_"),
        resolution="month",
    )


# ---------------------------------------------------------------------------
# T5 Compare view through the engine.
# ---------------------------------------------------------------------------
@register(
    "view_compare_years",
    """
    SELECT CAST(EXTRACT(year FROM ts) AS INT) AS year,
           CAST(EXTRACT(month FROM ts) AS INT) AS month,
           COUNT(*) AS count
    FROM events WHERE event_type = 'click'
    GROUP BY 1, 2
    """,
    doc="T5 Compare.pm:21-93 — per-year monthly matrix in one grouped scan",
)
def view_compare_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.plans.views import compare_years

    store = _store(spark, sf_dir)
    return compare_years(spark, store, Context(datatype="downloads"))


# ---------------------------------------------------------------------------
# Set / grouping dimensions derived from the driver's customer/nation tables
# so the engine's J1/J2 Context join shapes run at the correctness gate.
# Mapping (mirrored verbatim in every oracle below):
#   eprintid   = c_custkey % 100        (collides on purpose: many-to-many)
#   'segment'  set: set_value = c_mktsegment
#   grouping 'nation': grouping_value = n_name
#   eprint live date = 2024-01-(eprintid % 20 + 1)   (P4 clamp fixture)
# ---------------------------------------------------------------------------
import datetime as _dt

_TODAY = _dt.date(2024, 2, 15)  # fixed "today" so T3/T4 defaults are stable


def _dims_store(spark: SparkSession, sf_dir: str) -> StatsStore:
    store = _store(spark, sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    nat = load_table(spark, "nation", sf_dir)
    epid = (F.col("c_custkey") % 100).cast("int").alias("eprintid")
    cn = cust.join(nat, cust.c_nationkey == nat.n_nationkey, "inner")
    sets = cust.select(
        F.lit("segment").alias("set_name"),
        F.col("c_mktsegment").alias("set_value"),
        epid,
    ).distinct()
    groupings = cn.select(
        F.lit("segment").alias("set_name"),
        F.col("c_mktsegment").alias("set_value"),
        epid,
        F.lit("nation").alias("grouping_name"),
        F.col("n_name").alias("grouping_value"),
    ).distinct()
    eprints = (
        cust.select(epid)
        .distinct()
        .withColumn(
            "datestamp",
            F.make_date(F.lit(2024), F.lit(1), (F.col("eprintid") % 20) + 1),
        )
    )
    return StatsStore(
        facts=store.facts, sets=sets, groupings=groupings, eprints=eprints
    )


@register(
    "ctx_set_series",
    """
    WITH dim AS (
        SELECT DISTINCT CAST(c_custkey % 100 AS INT) AS eprintid
        FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    fact AS (
        SELECT CAST(user_id % 100 AS INT) AS eprintid,
               CAST(strftime(ts, '%Y%m%d') AS INT) AS datestamp,
               COUNT(*) AS c
        FROM events WHERE event_type = 'click' GROUP BY 1, 2
    )
    SELECT datestamp, CAST(SUM(c) AS BIGINT) AS count
    FROM fact JOIN dim USING (eprintid)
    WHERE datestamp BETWEEN 20240101 AND 20240131
    GROUP BY 1
    """,
    doc="J1 set shape via engine (Handler.pm:415-573): member series",
)
def ctx_set_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _dims_store(spark, sf_dir)
    return compile_context(
        store,
        Context(
            datatype="downloads",
            set_name="segment",
            set_value="BUILDING",
            from_date="20240101",
            to_date="20240131",
        ),
        ("datestamp",),
    )


@register(
    "ctx_top_sets",
    """
    WITH dim AS (
        SELECT DISTINCT c_mktsegment AS set_value,
               CAST(c_custkey % 100 AS INT) AS eprintid
        FROM customer
    ),
    fact AS (
        SELECT CAST(user_id % 100 AS INT) AS eprintid, COUNT(*) AS c
        FROM events WHERE event_type = 'click' GROUP BY 1
    )
    SELECT set_value, CAST(SUM(c) AS BIGINT) AS count
    FROM fact JOIN dim USING (eprintid)
    GROUP BY 1
    """,
    doc="J1 set shape, no member filter: group by set_value over the whole "
    "daily fact",
)
def ctx_top_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _dims_store(spark, sf_dir)
    return compile_context(
        store, Context(datatype="downloads", set_name="segment", range="_ALL_")
    )


@register(
    "ctx_grouping_top",
    """
    WITH dim AS (
        SELECT DISTINCT n_name AS grouping_value,
               CAST(c_custkey % 100 AS INT) AS eprintid
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_mktsegment = 'BUILDING'
    ),
    fact AS (
        SELECT CAST(user_id % 100 AS INT) AS eprintid, COUNT(*) AS c
        FROM events WHERE event_type = 'click' GROUP BY 1
    )
    SELECT grouping_value, CAST(SUM(c) AS BIGINT) AS count
    FROM fact JOIN dim USING (eprintid)
    GROUP BY 1
    ORDER BY count DESC, grouping_value ASC
    LIMIT 5
    """,
    doc="J2 grouping shape via top_table (Handler.pm:575-649): top nations "
    "within segment BUILDING, with O1/O2 order+limit",
)
def ctx_grouping_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _dims_store(spark, sf_dir)
    return top_table(
        store,
        Context(
            datatype="downloads",
            set_name="segment",
            set_value="BUILDING",
            range="_ALL_",
        ),
        "nation",
        5,
    )


@register(
    "ctx_prelive_clamp",
    """
    SELECT CAST(strftime(ts, '%Y%m%d') AS INT) AS datestamp, COUNT(*) AS count
    FROM events
    WHERE event_type = 'click' AND user_id % 100 = 7
      AND CAST(strftime(ts, '%Y%m%d') AS INT)
          BETWEEN GREATEST(20240101, 20240108) AND 20240131
    GROUP BY 1
    """,
    doc="P4 (Handler.pm:233-263): from raised to the eprint's go-live date "
    "(eprint 7 lives 2024-01-08 in the fixture dims)",
)
def ctx_prelive_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _dims_store(spark, sf_dir)
    return compile_context(
        store,
        Context(
            datatype="downloads",
            set_name="eprint",
            set_value="7",
            from_date="20240101",
            to_date="20240131",
        ),
        ("datestamp",),
        today=_TODAY,
    )


@register(
    "ctx_data_min",
    """
    SELECT CAST(user_id % 100 AS INT) AS eprintid, COUNT(*) AS count
    FROM events WHERE event_type <> 'click'
    GROUP BY 1
    HAVING COUNT(*) >= 80
    """,
    doc="P11 (View/Table.pm:134-135): top_table's data_min post-filter on "
    "the grouped sum",
)
def ctx_data_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _store(spark, sf_dir)
    return top_table(
        store, Context(datatype="views", range="_ALL_"), "eprint", "all", 80
    )


@register(
    "view_sparkline",
    """
    WITH daily AS (
        SELECT CAST(strftime(ts, '%Y%m%d') AS INT) AS d, COUNT(*) AS c
        FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    cal AS (
        SELECT CAST(strftime(dd, '%Y%m%d') AS INT) AS datestamp
        FROM generate_series(
            DATE '2023-08-14', DATE '2024-02-14', INTERVAL 1 DAY) t(dd)
    ),
    merged AS (
        SELECT datestamp, COALESCE(c, 0) AS count
        FROM cal LEFT JOIN daily ON datestamp = d
    )
    SELECT datestamp, count FROM merged
    WHERE datestamp >= (SELECT MIN(datestamp) FROM merged WHERE count > 0)
    """,
    doc="T4 Spark.pm:16-83: last-6-months daily series (today fixed "
    "2024-02-15 => window to 2024-02-14), leading zero rows trimmed",
)
def view_sparkline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.plans.views import sparkline_series

    store = _store(spark, sf_dir)
    return sparkline_series(
        spark, store, Context(datatype="downloads"), today=_TODAY
    )


# ---------------------------------------------------------------------------
# S7 dimension build through the real build_dimensions path, on an eprints
# table synthesized from customer/nation (scalar "simple" sets).
# ---------------------------------------------------------------------------
def _synth_eprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    nat = load_table(spark, "nation", sf_dir)
    return cust.join(nat, cust.c_nationkey == nat.n_nationkey, "inner").select(
        F.col("c_custkey").alias("eprintid"),
        F.col("c_mktsegment").alias("segment"),
        F.col("n_name").alias("nation"),
    )


@register(
    "s7_sets_build",
    """
    SELECT 'segment' AS set_name, c_mktsegment AS set_value,
           c_custkey AS eprintid
    FROM customer
    UNION
    SELECT 'nation', n_name, c_custkey
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
    doc="S7 (Handler.pm:876-1009, Sets.pm:222-288) via build_dimensions: "
    "unified sets dim over two simple sets",
)
def s7_sets_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.etl.sets import SetConfig, build_dimensions

    dims = build_dimensions(
        _synth_eprints(spark, sf_dir),
        sets=(
            SetConfig(field_name="segment", groupings=("nation",)),
            SetConfig(field_name="nation"),
        ),
    )
    return dims["sets"]


@register(
    "s7_groupings_build",
    """
    SELECT DISTINCT 'segment' AS set_name, c_mktsegment AS set_value,
           c_custkey AS eprintid, 'nation' AS grouping_name,
           n_name AS grouping_value
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
    doc="S7 grouping pair table (Handler.pm:942-977): eprint-in-set-X also-"
    "has-grouping-Y pairs",
)
def s7_groupings_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.etl.sets import SetConfig, build_dimensions

    dims = build_dimensions(
        _synth_eprints(spark, sf_dir),
        sets=(
            SetConfig(field_name="segment", groupings=("nation",)),
            SetConfig(field_name="nation"),
        ),
    )
    return dims["groupings"]


@register(
    "f9_subject_closure",
    """
    SELECT 'n' || n_nationkey AS subjectid, 'n' || n_nationkey AS ancestor
    FROM nation
    UNION ALL
    SELECT 'n' || n_nationkey, 'r' || n_regionkey FROM nation
    UNION ALL
    SELECT 'r' || r_regionkey, 'r' || r_regionkey FROM region
    """,
    doc="F9 (Sets.pm:404-424): ancestor closure incl. self over a 2-level "
    "hierarchy synthesized from nation->region",
)
def f9_subject_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.etl.sets import subject_closure

    nat = load_table(spark, "nation", sf_dir)
    reg = load_table(spark, "region", sf_dir)
    subjects = nat.select(
        F.concat(F.lit("n"), F.col("n_nationkey")).alias("subjectid"),
        F.concat(F.lit("r"), F.col("n_regionkey")).alias("parent"),
    ).unionByName(
        reg.select(
            F.concat(F.lit("r"), F.col("r_regionkey")).alias("subjectid"),
            F.lit(None).cast("string").alias("parent"),
        )
    )
    return subject_closure(subjects)


@register(
    "f1_f3_url_parse",
    """
    SELECT CASE user_id % 4
             WHEN 0 THEN 'http' WHEN 1 THEN 'http'
             WHEN 2 THEN 'info:oai' ELSE 'http' END AS protocol,
           CASE user_id % 4
             WHEN 0 THEN 'localhost' WHEN 1 THEN 'www.example.org'
             WHEN 2 THEN 'x' ELSE 'www.host.net' END AS hostname,
           CASE user_id % 4
             WHEN 0 THEN '/1234' WHEN 1 THEN '/path?p=hello.world&x=1'
             WHEN 2 THEN '' ELSE '/page?p=q+r' END AS uri,
           CASE user_id % 4
             WHEN 1 THEN 'hello' WHEN 3 THEN 'q+r' END AS p_param,
           COUNT(*) AS count
    FROM events
    GROUP BY 1, 2, 3, 4
    """,
    doc="F1+F3 (Utils.pm:489-522): parse_url incl. bare-number and info:oai "
    "forms; get_param's stop-at-'&'-or-'.' quirk",
)
def f1_f3_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.functions.urls import (
        get_param,
        url_hostname,
        url_protocol,
        url_uri,
    )

    url = (
        F.when(F.col("user_id") % 4 == 0, "1234")
        .when(F.col("user_id") % 4 == 1, "http://www.example.org/path?p=hello.world&x=1")
        .when(F.col("user_id") % 4 == 2, "info:oai:x")
        .otherwise("www.host.net/page?p=q+r")
    )
    ev = load_table(spark, "events", sf_dir).withColumn("url", url)
    return ev.select(
        url_protocol(F.col("url")).alias("protocol"),
        url_hostname(F.col("url")).alias("hostname"),
        url_uri(F.col("url")).alias("uri"),
        get_param(url_uri(F.col("url")), "p").alias("p_param"),
    ).groupBy("protocol", "hostname", "uri", "p_param").agg(
        F.count(F.lit(1)).alias("count")
    )


@register(
    "o4_listing_engine",
    """
    SELECT set_value, rendered_set_value FROM (
        SELECT DISTINCT c_mktsegment AS set_value,
               c_mktsegment AS rendered_set_value
        FROM customer
    ) WHERE lower(rendered_set_value) LIKE '%u%'
    """,
    doc="O4 (Handler.pm:778-821) via set_listing on the rendered dim built "
    "by build_dimensions, with the contains filter",
)
def o4_listing_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from irstats2_spark.etl.sets import SetConfig, build_dimensions
    from irstats2_spark.plans.views import set_listing

    dims = build_dimensions(
        _synth_eprints(spark, sf_dir), sets=(SetConfig(field_name="segment"),)
    )
    store = StatsStore(facts={}, rendered=dims["rendered"])
    return set_listing(store, "segment", q="u")


@register(
    "t6_f12_formatting",
    """
    SELECT datestamp,
           strftime(make_date(datestamp // 10000, (datestamp // 100) % 100,
                              datestamp % 100), '%-d %b %Y') AS label,
           format('{:,}', total) AS display_total
    FROM (
        SELECT CAST(strftime(ts, '%Y%m%d') AS INT) AS datestamp,
               COUNT(*) * 1234 AS total
        FROM events WHERE event_type = 'click' GROUP BY 1
    )
    """,
    doc="T6 (Graph.pm:133-150) date labels 'D Mon YYYY' + F12 "
    "(Utils.pm:340-369) thousands-separator display",
)
def t6_f12_formatting(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _adapted(spark, sf_dir)
        .filter(F.col("is_download"))
        .groupBy(F.col("date_key").alias("datestamp"))
        .agg((F.count(F.lit(1)) * 1234).alias("total"))
    )
    d = F.to_date(F.col("datestamp").cast("string"), "yyyyMMdd")
    return daily.select(
        "datestamp",
        F.concat(
            F.dayofmonth(d).cast("string"),
            F.lit(" "),
            F.date_format(d, "MMM yyyy"),
        ).alias("label"),
        F.format_number(F.col("total"), 0).alias("display_total"),
    )
