"""Core operator queries (SURVEY.md §2.2-§2.6) over the driver's test tables.

These are the engine's primitive shapes — the reference compiles every
Context into one of them (Handler.pm:219-649): single-table grouped sum,
one-dim-join grouped sum, date predicates, order/limit/offset, top-N,
min/max bounds, ratios, and series post-processing (the serving Graph
view, ``plans.views.graph_rows``).

Scale notes (100 TB posture):
- fact scans group on low-cardinality keys => map-side partial aggregation,
  one shuffle, no driver collects;
- dimension joins broadcast (nation/region/part/customer are tiny vs fact);
- top-N is expressed as orderBy+limit so Spark plans TakeOrderedAndProject
  (no full sort, no full shuffle of sorted data);
- series ops run AFTER aggregation to day grain, on the |days| rows the
  Graph view collects, not on |events|.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from irstats2_spark.catalog import register
from irstats2_spark.operators.agg import exact_sums, fx
from irstats2_spark.plans.builder import StatsStore
from irstats2_spark.plans.context import Context
from irstats2_spark.plans.views import graph_series
from irstats2_spark.sources.testdata import load_table

# Money/measure sums go through operators.agg.exact_sums (fixed-point
# two-level aggregation): bit-identical to the oracles' DECIMAL(18,6)
# formulation, ~2x faster, overflow-safe at scale.


# ---------------------------------------------------------------------------
# A1 — core grouped sum (the shape every reference query ends in,
# Handler.pm:313-320). TPC-H Q1 flavor over lineitem.
# ---------------------------------------------------------------------------
@register(
    "a1_grouped_sum",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS DOUBLE) AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="A1 Handler.pm:313-320 — GROUP BY + SUM, the universal query tail",
)
def a1_grouped_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    q, p, d = fx("l_quantity"), fx("l_extendedprice"), fx("l_discount")
    return exact_sums(
        li,
        ["l_returnflag", "l_linestatus"],
        {
            "sum_qty": (q, 100),
            "sum_base_price": (p, 100),
            "sum_disc_price": (p * (100 - d), 100 * 100),
        },
        count_alias="count_order",
    )


# ---------------------------------------------------------------------------
# A2 — grand total sum_all (Data.pm:292-304).
# ---------------------------------------------------------------------------
@register(
    "a2_sum_all",
    """
    SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_all,
           COUNT(*) AS n_events
    FROM events
    """,
    doc="A2 Data.pm:292-304 — grand total over the selection",
)
def a2_sum_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return exact_sums(
        ev, [], {"sum_all": (fx("value"), 100)}, count_alias="n_events"
    )


# ---------------------------------------------------------------------------
# A3 — ETL daily pre-aggregation (Downloads.pm:35-54): the map-side combine
# that turns raw events into daily-grain facts.
# ---------------------------------------------------------------------------
@register(
    "a3_daily_preagg",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, COUNT(*) AS count
    FROM events
    GROUP BY 1, 2
    """,
    doc="A3 Downloads.pm:35-54 — events to daily-grain fact rows",
)
def a3_daily_preagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("count"))


# ---------------------------------------------------------------------------
# J1 — fact ⋈ set dimension, inner equi-join + grouped sum
# (Handler.pm:483-491). part is the small side => broadcast.
# ---------------------------------------------------------------------------
@register(
    "j1_fact_join_dim",
    """
    SELECT p.p_brand AS brand,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_lines
    FROM lineitem l INNER JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    doc="J1 Handler.pm:483-491 — fact x dimension broadcast equi-join",
)
def j1_fact_join_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "inner")
    return exact_sums(
        joined,
        {"brand": F.col("p_brand")},
        {"sum_qty": (fx("l_quantity"), 100)},
        count_alias="n_lines",
    )


# ---------------------------------------------------------------------------
# J2 — two-hop grouping join ("top G within set member X",
# Handler.pm:575-649): orders ⋈ customer ⋈ nation, restricted to one
# region, grouped by nation.
# ---------------------------------------------------------------------------
@register(
    "j2_grouping_join",
    """
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
    FROM orders o
    INNER JOIN customer c ON o.o_custkey = c.c_custkey
    INNER JOIN nation n ON c.c_nationkey = n.n_nationkey
    INNER JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
    doc="J2 Handler.pm:575-649 — grouping-dimension join under a set restriction",
)
def j2_grouping_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    dim = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name")
    )
    joined = o.join(F.broadcast(dim), o.o_custkey == dim.c_custkey, "inner")
    return exact_sums(
        joined,
        {"nation": F.col("n_name")},
        {"revenue": (fx("o_totalprice"), 100)},
        count_alias="n_orders",
    )


# ---------------------------------------------------------------------------
# P3 — date-range predicate (Handler.pm:325-340).
# ---------------------------------------------------------------------------
@register(
    "p3_date_range",
    """
    SELECT event_type, COUNT(*) AS count,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY event_type
    """,
    doc="P3 Handler.pm:325-340 — datestamp BETWEEN window, pushed to the scan",
)
def p3_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    filtered = ev.filter(
        (F.col("ts") >= F.lit("2024-01-08 00:00:00").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
    )
    return exact_sums(
        filtered,
        ["event_type"],
        {"sum_value": (fx("value"), 100)},
        count_alias="count",
    )


# ---------------------------------------------------------------------------
# P5 — datafilter equality predicate with constant elimination
# (Handler.pm:296-301,350-354): value filtered => value not grouped.
# ---------------------------------------------------------------------------
@register(
    "p5_datafilter_eq",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS count
    FROM events
    WHERE event_type = 'click'
    GROUP BY 1
    """,
    doc="P5 Handler.pm:350-354 — equality datafilter; filtered column dropped from keys",
)
def p5_datafilter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("count"))
    )


# ---------------------------------------------------------------------------
# P7 / J3 — archive-only left-semi join (Handler.pm:356-361).
# ---------------------------------------------------------------------------
@register(
    "p7_semi_join",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
    GROUP BY l_returnflag
    """,
    doc="P7 Handler.pm:356-361 — IN-subquery as left_semi join",
)
def p7_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    keys = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    joined = li.join(keys, li.l_orderkey == keys.o_orderkey, "left_semi")
    return exact_sums(
        joined,
        ["l_returnflag"],
        {"sum_qty": (fx("l_quantity"), 100)},
        count_alias="n_lines",
    )


# ---------------------------------------------------------------------------
# T1 — date truncation / resolution (View/Google/Graph.pm:44-69).
# ---------------------------------------------------------------------------
@register(
    "t1_month_trunc",
    """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY 1
    """,
    doc="T1 Graph.pm:44-69 — date_resolution=month bucketing",
)
def t1_month_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return exact_sums(
        o,
        {"month": F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM")},
        {"revenue": (fx("o_totalprice"), 100)},
        count_alias="n_orders",
    )


def _daily_store(events: DataFrame) -> StatsStore:
    """A one-fact store of per-day event counts, so the series rows below
    run the serving Graph view (``views.graph_rows``): eprintid 0, the
    int yyyyMMdd datestamp, one constant value, the count per day."""
    daily = events.groupBy(
        F.date_format("ts", "yyyyMMdd").cast("int").alias("datestamp")
    ).agg(F.count(F.lit(1)).alias("count"))
    fact = daily.select(
        F.lit(0).alias("eprintid"), "datestamp", F.lit("events").alias("value"), "count"
    )
    return StatsStore(facts={"events": fact})


def _day() -> Column:
    """The series' int yyyyMMdd ``datestamp`` as the yyyy-MM-dd ``day``."""
    d = F.to_date(F.col("datestamp").cast("string"), "yyyyMMdd")
    return F.date_format(d, "yyyy-MM-dd").alias("day")


# ---------------------------------------------------------------------------
# T2 — date densification / gap fill (Utils.pm:135-215 + Graph.pm:101-161):
# the serving Graph view zero-fills every day of the window.
# ---------------------------------------------------------------------------
@register(
    "t2_densify",
    """
    WITH days AS (
        SELECT CAST(gs AS DATE) AS d
        FROM generate_series(DATE '2024-01-01', DATE '2024-01-30', INTERVAL 1 DAY) t(gs)
    ),
    daily AS (
        SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT strftime(days.d, '%Y-%m-%d') AS day, COALESCE(daily.c, 0) AS count
    FROM days LEFT JOIN daily ON days.d = daily.d
    """,
    doc="T2 Utils.pm:135-215 — calendar densification with zero fill",
)
def t2_densify(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    store = _daily_store(ev.filter(F.col("event_type") == "purchase"))
    series = graph_series(
        spark, store, Context(datatype="events", from_date="20240101", to_date="20240130")
    )
    return series.select(_day(), "count")


# ---------------------------------------------------------------------------
# A6/A7 — running average + cumulative sum over the densified series
# (Graph.pm:94-96,152-187), added by the serving Graph view at day grain.
# ---------------------------------------------------------------------------
@register(
    "a6_a7_cumulative_running_avg",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, COUNT(*) AS c
        FROM events GROUP BY 1
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           c AS count,
           CAST(SUM(c) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumulative,
           CAST(FLOOR(SUM(c) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                / ROW_NUMBER() OVER (ORDER BY d)) AS BIGINT) AS running_avg
    FROM daily
    """,
    doc="A6/A7 Graph.pm:94-187 — cumulative + int running average windows",
)
def a6_a7_cumulative_running_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _daily_store(load_table(spark, "events", sf_dir))
    series = graph_series(
        spark, store, Context(datatype="events", range="_ALL_"),
        cumulative=True, show_average=True,
    )
    return series.select(_day(), "count", "cumulative", "running_avg")


# ---------------------------------------------------------------------------
# O1/O3 — top-N with deterministic tie-break (View/Table.pm:37-89):
# ORDER BY SUM(count) DESC LIMIT n => TakeOrderedAndProject in Spark.
# ---------------------------------------------------------------------------
@register(
    "o3_topn",
    """
    SELECT user_id, COUNT(*) AS count
    FROM events
    GROUP BY user_id
    ORDER BY count DESC, user_id ASC
    LIMIT 10
    """,
    doc="O3 Table.pm:37-89 — top-N entities by summed count",
)
def o3_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.col("count").desc(), F.col("user_id").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# O2 — LIMIT/OFFSET pagination (Handler.pm:1317-1337).
# ---------------------------------------------------------------------------
@register(
    "o2_limit_offset",
    """
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS total
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20 OFFSET 10
    """,
    doc="O2 Handler.pm:1317-1337 — LIMIT n OFFSET m paging",
)
def o2_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", F.col("o_totalprice").cast("double").alias("total"))
        .offset(10)
        .limit(20)
    )


# ---------------------------------------------------------------------------
# A9 — min/max date boundaries in one pass (vs the reference's six queries,
# Handler.pm:1172-1236).
# ---------------------------------------------------------------------------
@register(
    "a9_minmax_dates",
    """
    SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS max_ts,
           COUNT(*) AS n
    FROM events
    """,
    doc="A9 Handler.pm:1172-1236 — dataset date bounds, single scan",
)
def a9_minmax_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# A5 — ratio metric (View/KeyFigures.pm:58-61,141-167):
# round(100 * metric1 / metric2) with 0-guard, via conditional sums.
# ---------------------------------------------------------------------------
@register(
    "a5_ratio_metric",
    """
    SELECT CAST(ROUND(100.0 * SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 / NULLIF(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END), 0)) AS BIGINT)
           AS purchase_view_ratio,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views
    FROM events
    """,
    doc="A5 KeyFigures.pm:141-167 — ratio of two sub-aggregates in one pass",
)
def a5_ratio_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    purchases = F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
    views = F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
    return ev.agg(
        F.round(F.lit(100.0) * purchases / F.nullif(views, F.lit(0)))
        .cast("long")
        .alias("purchase_view_ratio"),
        purchases.alias("purchases"),
        views.alias("views"),
    )


# ---------------------------------------------------------------------------
# A10/O4 — distinct datatype values ranked (Handler.pm:271-274) +
# alphabetical listing with contains-filter (Handler.pm:778-821).
# ---------------------------------------------------------------------------
@register(
    "a10_top_values",
    """
    SELECT event_type AS value, COUNT(*) AS count
    FROM events
    GROUP BY event_type
    ORDER BY count DESC, value ASC
    """,
    doc="A10 Handler.pm:271-274 — grouping='value': top fact values",
)
def a10_top_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.col("event_type").alias("value"))
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.col("count").desc(), F.col("value").asc())
    )


@register(
    "o4_alpha_listing",
    """
    SELECT DISTINCT p_type AS set_value
    FROM part
    WHERE lower(p_type) LIKE '%brass%'
    ORDER BY set_value
    """,
    doc="O4 Handler.pm:778-821 — alphabetical distinct listing with LIKE filter",
)
def o4_alpha_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, "part", sf_dir)
    return (
        p.select(F.col("p_type").alias("set_value"))
        .filter(F.lower(F.col("set_value")).contains("brass"))
        .distinct()
        .orderBy("set_value")
    )


# ---------------------------------------------------------------------------
# T5 — year-over-year / month-over-month comparison (View/Compare.pm:21-93)
# expressed as one grouped scan instead of one query per year.
# ---------------------------------------------------------------------------
@register(
    "t5_period_compare",
    """
    SELECT CAST(EXTRACT(week FROM ts) AS INT) AS week,
           event_type,
           COUNT(*) AS count
    FROM events
    GROUP BY 1, 2
    """,
    doc="T5 Compare.pm:21-93 — per-period series in a single grouped pass",
)
def t5_period_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy(
        F.weekofyear("ts").cast("int").alias("week"), "event_type"
    ).agg(F.count(F.lit(1)).alias("count"))


# ---------------------------------------------------------------------------
# A8 — dataset row count (Handler.pm:1148-1170).
# ---------------------------------------------------------------------------
@register(
    "a8_count_rows",
    "SELECT COUNT(*) AS n_rows FROM lineitem",
    doc="A8 Handler.pm:1148-1170 — COUNT over a dataset",
)
def a8_count_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, "lineitem", sf_dir).agg(F.count(F.lit(1)).alias("n_rows"))
