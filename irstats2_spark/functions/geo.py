"""GeoIP country lookup (SURVEY §2.8 F7) as a broadcast range join.

The reference calls a GeoIP mmdb per record (Country.pm:75-105). The
Spark-native equivalent: convert the dotted quad to a long and range-join
against a small `(ip_start_long, ip_end_long, country_iso2)` table
(FIXTURES.md §6). The ranges table is a few MB even for the full public
dataset, so broadcast turns the range join into a map-side interval probe —
no shuffle of the 100 TB fact side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ip_to_long(ip: Column) -> Column:
    """Dotted-quad IPv4 -> long; NULL for malformed input.

    Arithmetic-only validation (try_cast + range check, NULL propagates) —
    no regex. Catalyst inlines this expression into every predicate
    derived from it (join null-filters, pushed-down isnotnull), so each
    copy must be cheap; the earlier rlike formulation cost a regex match
    per derived predicate per row."""
    parts = F.split(ip, r"\.")

    def octet(i: int) -> Column:
        o = F.get(parts, i).try_cast("long")
        return F.when((o >= 0) & (o <= 255), o)

    value = (
        octet(0) * F.lit(16777216)
        + octet(1) * F.lit(65536)
        + octet(2) * F.lit(256)
        + octet(3)
    )
    return F.when(F.size(parts) == 4, value)


def with_country(df: DataFrame, ranges: DataFrame) -> DataFrame:
    """Attach ``country_iso2`` to each row by the range that holds its
    ``requester_id`` IP, via a broadcast range join; rows with no match
    keep NULL (the reference drops those records in the Country processor).

    Each range is exploded into the /8 prefixes it spans and the join
    equi-joins on the prefix before the interval test, so Catalyst plans
    a broadcast HASH join (not a nested loop) and each fact row probes
    only the ranges sharing its first octet.
    """
    exploded = ranges.withColumn(
        "__prefix",
        F.explode(
            F.sequence(
                (F.col("ip_start_long") / 16777216).cast("long"),
                (F.col("ip_end_long") / 16777216).cast("long"),
            )
        ),
    )
    ipl = ip_to_long(F.col("requester_id"))
    left = df.withColumn("__ipl", ipl).withColumn(
        "__prefix", (F.col("__ipl") / 16777216).cast("long")
    )
    cond = (
        (left.__prefix == exploded.__prefix)
        & (F.col("__ipl") >= exploded.ip_start_long)
        & (F.col("__ipl") <= exploded.ip_end_long)
    )
    joined = left.join(F.broadcast(exploded), cond, "left")
    return joined.withColumn("country_iso2", exploded.country_iso2).drop(
        "ip_start_long", "ip_end_long", "__ipl", "__prefix"
    )
