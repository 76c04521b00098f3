"""Loaders for the driver's deterministic parquet test tables (TESTDATA.md).

All reads are bare ``spark.read.parquet`` so Catalyst owns predicate
pushdown and column pruning; callers select/filter lazily.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Timestamp columns whose parquet encoding has varied across driver data
# generations: TIMESTAMP(NANOS) (read as long via
# spark.sql.legacy.parquet.nanosAsLong, converted to micros here —
# truncating division matches DuckDB's internal ns->us truncation) or
# timestamp[us] with isAdjustedToUTC=false (read as TIMESTAMP_NTZ). Either
# way the engine-facing type is session-TZ TIMESTAMP; the session TZ is
# pinned UTC (session.get_spark), so the NTZ->TZ cast is wall-clock-exact
# and matches DuckDB's naive-timestamp reading of the same file.
_TS_COLS = {"events": ("ts",)}


# Schema memo: spark.read.parquet without an explicit schema runs a
# driver JOB to read footers on EVERY call — ~40 ms per load_table,
# which multiplied over a many-query application is pure metadata
# overhead (a production deployment holds table schemas in a catalog
# for exactly this reason). Key includes the file's mtime so a
# regenerated testdata directory re-infers; only METADATA is memoized —
# every query still scans the parquet data itself.
_SCHEMA_CACHE: dict[tuple[str, float], object] = {}


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    sf_dir = sf_dir or DEFAULT_SF_DIR
    if name in _TS_COLS:
        # Force the legacy nanos-as-long read even on sessions not built by
        # get_spark(); the conf is read at scan planning time, so setting it
        # on the running session is sufficient. (No-op for micros files.)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        key = (path, os.path.getmtime(path))
    except OSError:
        key = None
    schema = _SCHEMA_CACHE.get(key) if key else None
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key:
            _SCHEMA_CACHE[key] = df.schema
    for col in _TS_COLS.get(name, ()):
        dtype = dict(df.dtypes).get(col)
        if dtype == "bigint":
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df
