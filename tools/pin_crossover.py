"""Where a pinned snapshot stops paying: request latency over
``StatsStore.pinned()`` against the date-partitioned parquet plan it
replaces, at growing gold sizes.

For each row count, writes a synthetic gold (one year of one ``downloads``
fact through ``storage.write_fact``, the set and grouping dimensions, the
eprints table), opens it as the serve path does, and times six request
shapes, collected over the store as opened and over its snapshot with
every table folded to one partition (``PIN_MAX_BYTES`` lifted for the
measurement). The two plans alternate; each figure is a median of
``--reps`` runs after one warm-up run, which also materializes the
snapshot. Prints one JSON line per size with the fact's optimizer size
(the figure ``pinned()`` compares against ``PIN_MAX_BYTES``), the
snapshot's build time and, per shape, the two medians in ms.

Usage: python -m tools.pin_crossover [--rows 100000,1000000] [--reps 7]
                                     [--cpus 4] [--root DIR]
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import statistics
import tempfile
import time
from unittest import mock

DAYS = 365
DIVISIONS = 20
AUTHORS = 200
FIRST_DAY = dt.date(2024, 1, 1)


def write_gold(spark, root: str, rows: int) -> int:
    """One year of daily download counts, two values per eprint and day,
    spread over ``rows // (2 * DAYS)`` eprints; returns the eprint count."""
    from pyspark.sql import functions as F

    from irstats2_spark.sources.storage import write_fact

    eprints = max(1, rows // (2 * DAYS))
    day = F.floor(F.col("id") / (2 * eprints)).cast("int")
    fact = spark.range(rows).select(
        (F.col("id") % eprints + 1).cast("int").alias("eprintid"),
        F.date_format(F.date_add(F.lit(FIRST_DAY), day), "yyyyMMdd")
        .cast("int").alias("datestamp"),
        (F.floor(F.col("id") / eprints) % 2).cast("string").alias("value"),
        (F.abs(F.hash("id")) % 50 + 1).cast("long").alias("count"),
    )
    write_fact(fact, root, "downloads")
    ep = spark.range(1, eprints + 1).select(F.col("id").cast("int").alias("eprintid"))
    ep.select(
        F.lit("divisions").alias("set_name"),
        F.concat(F.lit("div"), F.col("eprintid") % DIVISIONS).alias("set_value"),
        "eprintid",
    ).write.parquet(f"{root}/dim_sets")
    ep.select(
        F.lit("divisions").alias("set_name"),
        F.concat(F.lit("div"), F.col("eprintid") % DIVISIONS).alias("set_value"),
        F.lit("authors").alias("grouping_name"),
        F.concat(F.lit("a"), F.col("eprintid") % AUTHORS).alias("grouping_value"),
        "eprintid",
    ).write.parquet(f"{root}/dim_groupings")
    ep.select(
        "eprintid", F.lit(dt.datetime(2024, 1, 1)).alias("datestamp")
    ).write.parquet(f"{root}/eprints")
    return eprints


def shapes(eprints: int, today: dt.date):
    """(name, plan) of the serve path's request shapes, ``plan`` taking a
    store to the request's DataFrame: an eprint's week and lifetime, a
    set member's and the repository's daily series, the top eprints, and
    the top authors within a set."""
    from irstats2_spark.plans.builder import compile_context
    from irstats2_spark.plans.context import Context
    from irstats2_spark.plans.views import top_table

    def days(ctx):
        return lambda s: compile_context(s, ctx, ("datestamp",), today=today)

    def top(ctx, axis):
        return lambda s: top_table(s, ctx, axis, 10, today=today)

    e = str(eprints // 2 + 1)
    return [
        ("eprint_week", days(Context(set_name="eprint", set_value=e,
                                     from_date="20240610", to_date="20240616"))),
        ("eprint_all", days(Context(set_name="eprint", set_value=e, range="_ALL_"))),
        ("set_all", days(Context(set_name="divisions", set_value="div3", range="_ALL_"))),
        ("repo_all", days(Context(range="_ALL_"))),
        ("top_eprints", top(Context(range="_ALL_"), "eprint")),
        ("top_authors", top(Context(set_name="divisions", set_value="div3",
                                    range="_ALL_"), "authors")),
    ]


def measure(spark, root: str, rows: int, reps: int) -> dict:
    from irstats2_spark.plans import builder
    from irstats2_spark.sources.storage import read_fact

    eprints = write_gold(spark, root, rows)
    store = builder.StatsStore(
        facts={"downloads": read_fact(spark, root, "downloads")},
        sets=spark.read.parquet(f"{root}/dim_sets"),
        groupings=spark.read.parquet(f"{root}/dim_groupings"),
        eprints=spark.read.parquet(f"{root}/eprints"),
    )
    fact = store.facts["downloads"]
    size = int(fact._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    with mock.patch.object(builder, "PIN_MAX_BYTES", float("inf")):
        pinned = store.pinned()
    assert pinned.single_partition
    requests = shapes(eprints, dt.date(2025, 1, 1))

    def run(s, plan) -> float:
        t = time.perf_counter()
        plan(s).collect()
        return (time.perf_counter() - t) * 1000

    out = {"rows": rows, "eprints": eprints, "fact_size_bytes": size, "shapes": {}}
    t = time.perf_counter()
    for _, plan in requests:
        run(pinned, plan)
    out["pin_s"] = round(time.perf_counter() - t, 2)
    for name, plan in requests:
        run(store, plan)
        disk, mem = [], []
        for _ in range(reps):
            disk.append(run(store, plan))
            mem.append(run(pinned, plan))
        out["shapes"][name] = {
            "parquet_ms": round(statistics.median(disk), 1),
            "pinned_ms": round(statistics.median(mem), 1),
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", default="100000,1000000")
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--root", default=None, help="scratch directory for the gold")
    args = ap.parse_args()

    from irstats2_spark.session import get_spark

    spark = get_spark("pin_crossover", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    for rows in (int(r) for r in args.rows.split(",")):
        root = tempfile.mkdtemp(prefix="pin_crossover_", dir=args.root)
        try:
            print(json.dumps(measure(spark, os.path.join(root, "gold"), rows, args.reps)),
                  flush=True)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
