"""View layer (SURVEY §2.5, §3.1 step 7): the reference's Google::Graph /
Spark(line) / Compare / Table / KeyFigures views over compiled Contexts.

The reference runs one SQL fetch per view and shapes the series in Perl
(Utils.pm:135-215, Graph.pm:94-187, Spark.pm:50-53). The time-series
views here do the same: ``graph_rows`` / ``sparkline_rows`` compile the
day-grain grouped sum, collect its at most |days| rows once, then
zero-fill, bucket, accumulate and trim them in plain Python on the
driver. ``graph_series`` / ``sparkline_series`` wrap those rows in a
DataFrame for the catalog and ``run_report``.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irstats2_spark.functions.dates import get_dates
from irstats2_spark.plans.builder import StatsStore, compile_context
from irstats2_spark.plans.context import Context, QueryOptions

_SERIES_TYPES = {
    "datestamp": "int",
    "count": "bigint",
    "cumulative": "bigint",
    "running_avg": "bigint",
}


def graph_rows(
    store: StatsStore,
    ctx: Context,
    resolution: str = "day",
    cumulative: bool = False,
    show_average: bool = False,
    today: dt.date | None = None,
) -> tuple[list[str], list[tuple]]:
    """View::Google::Graph (Graph.pm:44-192) as ``(columns, rows)``,
    oldest first: every day of the window zero-filled (T2), bucketed to
    YYYYMM / YYYY keys by integer division (T1, the reference's string
    prefix bucketing), with optional cumulative and integer running
    average ``cumsum // i`` columns (A6+A7).

    An open window ('_ALL_') snaps to the first and last day with data."""
    from_i, to_i = ctx.resolved_dates(today=today)
    daily: dict[int, int] = {}
    for r in compile_context(
        store, ctx, QueryOptions(fields=("datestamp",)), today=today
    ).collect():
        # a set or grouping context also groups by its key: fold it away
        daily[r["datestamp"]] = daily.get(r["datestamp"], 0) + (r["count"] or 0)
    columns = ["datestamp", "count"]
    if cumulative:
        columns.append("cumulative")
    if show_average:
        columns.append("running_avg")
    if from_i is None or to_i is None:
        if not daily:
            return columns, []
        from_i = from_i or min(daily)
        to_i = to_i or max(daily)
    div = 1 if resolution == "day" else 100 if resolution == "month" else 10000
    buckets: dict[int, int] = {}
    for d in get_dates(from_i, to_i):
        buckets[d // div] = buckets.get(d // div, 0) + daily.get(d, 0)
    rows, total = [], 0
    for i, (key, n) in enumerate(buckets.items(), 1):
        total += n
        full = {"datestamp": key, "count": n, "cumulative": total, "running_avg": total // i}
        rows.append(tuple(full[c] for c in columns))
    return columns, rows


def sparkline_rows(
    store: StatsStore,
    ctx: Context,
    today: dt.date | None = None,
) -> tuple[list[str], list[tuple]]:
    """View::Google::Spark (Spark.pm:16-83): the last 6 months day by
    day, leading zero days trimmed (T4), newest first."""
    ctx6 = replace(ctx, range="6m", from_date=None, to_date=None)
    columns, rows = graph_rows(store, ctx6, today=today)
    first = next((i for i, r in enumerate(rows) if r[1] > 0), len(rows))
    return columns, rows[first:][::-1]


def _frame(spark: SparkSession, columns: list[str], rows: list[tuple]) -> DataFrame:
    schema = ", ".join(f"{c} {_SERIES_TYPES[c]}" for c in columns)
    return spark.createDataFrame(rows, schema)


def graph_series(
    spark: SparkSession,
    store: StatsStore,
    ctx: Context,
    resolution: str = "day",
    cumulative: bool = False,
    show_average: bool = False,
    today: dt.date | None = None,
) -> DataFrame:
    """``graph_rows`` as a DataFrame."""
    return _frame(
        spark,
        *graph_rows(store, ctx, resolution, cumulative, show_average, today),
    )


def sparkline_series(
    spark: SparkSession,
    store: StatsStore,
    ctx: Context,
    today: dt.date | None = None,
) -> DataFrame:
    """``sparkline_rows`` as a DataFrame."""
    return _frame(spark, *sparkline_rows(store, ctx, today))


def top_table(
    store: StatsStore,
    ctx: Context,
    top: str = "eprint",
    limit: int | str = 10,
    data_min: int | None = None,
    today: dt.date | None = None,
) -> DataFrame:
    """View::Table / PieChart (Table.pm:37-89, PieChart.pm:32-85): ``top``
    selects the grouping axis — 'eprint' groups by eprintid, the
    context's datatype groups by the fact value column, a set name is a
    grouping join (top authors/divisions/...)."""
    if top == "eprint":
        ctx = replace(ctx, grouping="eprint")
    elif top == ctx.datatype:
        ctx = replace(ctx, grouping="value")
    else:
        ctx = replace(ctx, grouping=top)
    opts = QueryOptions(
        limit=None if limit == "all" else int(limit), data_min=data_min
    )
    return compile_context(store, ctx, opts, today=today)


def compare_years(
    spark: SparkSession,
    store: StatsStore,
    ctx: Context,
    today: dt.date | None = None,
) -> DataFrame:
    """View::Compare (Compare.pm:21-93): per-year monthly series from the
    dataset min to max year — ONE grouped scan pivoted to
    (year, month, count), not one query per year."""
    monthly = compile_context(
        store,
        replace(ctx, range="_ALL_", from_date=None, to_date=None),
        QueryOptions(fields=("datestamp",)),
        today=today,
    )
    return (
        monthly.withColumn("year", (F.col("datestamp") / 10000).cast("int"))
        .withColumn("month", ((F.col("datestamp") / 100) % 100).cast("int"))
        .groupBy("year", "month")
        .agg(F.sum("count").alias("count"))
    )


def key_figures(
    store: StatsStore,
    metrics: dict[str, Context],
    ratios: dict[str, tuple[str, str]] | None = None,
    today: dt.date | None = None,
) -> dict[str, int]:
    """View::KeyFigures (KeyFigures.pm:58-99,141-167): named grand totals
    plus ratio metrics round(100*a/b) with 0-guard."""
    from irstats2_spark.plans.builder import sum_all

    values: dict[str, int] = {}
    for name, ctx in metrics.items():
        row = sum_all(compile_context(store, ctx, today=today)).head()
        values[name] = int(row["count"] or 0)
    for name, (num, den) in (ratios or {}).items():
        d = values.get(den, 0)
        values[name] = int(round(100.0 * values.get(num, 0) / d)) if d else 0
    return values


def set_listing(
    store: StatsStore,
    set_name: str,
    q: str | None = None,
) -> DataFrame:
    """O4 (Handler.pm:778-821): alphabetical distinct (set_value, rendered)
    listing with optional case-insensitive contains filter."""
    if store.rendered is None:
        raise ValueError("no rendered dimension loaded")
    out = store.rendered.filter(F.col("set_name") == set_name).select(
        "set_value", "rendered_set_value"
    ).distinct()
    if q:
        out = out.filter(
            F.lower(F.col("rendered_set_value")).contains(q.lower())
        )
    return out.orderBy(F.lower(F.col("rendered_set_value")))


def valid_set_value(store: StatsStore, set_name: str, set_value: str) -> bool:
    """Context.pm:272-289 / Handler.pm:1011-1041: existence probe."""
    if store.sets is None:
        return False
    return not store.sets.filter(
        (F.col("set_name") == set_name) & (F.col("set_value") == set_value)
    ).isEmpty()
