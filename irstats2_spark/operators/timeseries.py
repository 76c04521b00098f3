"""Time-series operators over day-grain aggregates (SURVEY.md §2.5), as
DataFrame ops for callers that keep a series in Spark: T2 calendar
densify and A6+A7 cumulative / running average.

The report views do not use them: plans/views collects the day-grain
grouped sum once and shapes the series on the driver, as the reference
does in Perl (View/Google/Graph.pm, Utils.pm:135-215). The window here
runs over |days| rows in one partition, never |events|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def densify_days(
    spark: SparkSession,
    daily: DataFrame,
    date_col: str,
    value_col: str,
    start: str,
    end: str,
) -> DataFrame:
    """T2 (Utils.pm:135-215): left-merge data onto the complete calendar
    sequence [start, end], zero-filling gaps.

    The calendar side is generated with ``sequence()`` + ``explode`` —
    a single tiny in-memory relation, broadcast to the (already small)
    aggregated side.
    """
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(start).cast("date"),
                F.lit(end).cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias(date_col)
    )
    joined = days.join(daily, on=date_col, how="left")
    return joined.withColumn(value_col, F.coalesce(F.col(value_col), F.lit(0)))


def with_cumulative_and_average(
    df: DataFrame, date_col: str, value_col: str
) -> DataFrame:
    """A6+A7 (Graph.pm:94-96,152-187): cumulative sum and the reference's
    integer running average ``int(cumsum/i)`` over the ordered series.
    """
    w = Window.orderBy(date_col).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wn = Window.orderBy(date_col)
    cum = F.sum(value_col).over(w)
    return df.withColumn("cumulative", cum).withColumn(
        "running_avg", (cum / F.row_number().over(wn)).cast("long")
    )
