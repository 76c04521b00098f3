"""Gold-layer storage: partitioned parquet fact tables with incremental
repair (SURVEY §2.1 S5/S6, §2.9).

The reference batch-INSERTs facts and repairs with
`DELETE FROM ... WHERE datestamp >= from` + replay (Handler.pm:651-771).
Spark-native equivalents:

- S5 append: `write.partitionBy('datestamp')` — daily-partitioned parquet;
  the date predicate of every Context query (P3) becomes pure partition
  pruning, and at 100 TB a day's partition is the replay/compaction unit.
- S6 delete-from-date: dynamic partition overwrite, set on the replay
  writer only (``partitionOverwriteMode=dynamic``, never session-wide, so
  a full ``write_fact`` overwrite still replaces the whole table),
  rewrites exactly the partitions present in the repair batch — the
  parquet analog of Delta's replaceWhere.
- value truncation to 191 chars before write (Handler.pm:682-690), kept
  for behavioral parity with the reference's index-length limit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _truncate_value(df: DataFrame) -> DataFrame:
    return df.withColumn("value", F.substring(F.col("value"), 1, 191))


def write_fact(
    fact: DataFrame,
    root: str,
    datatype: str,
    mode: str = "overwrite",
) -> str:
    """Write one datatype's fact table partitioned by datestamp."""
    path = os.path.join(root, f"fact_{datatype}")
    (
        _truncate_value(fact)
        .repartition("datestamp")
        .write.partitionBy("datestamp")
        .mode(mode)
        .parquet(path)
    )
    return path


def read_fact(spark: SparkSession, root: str, datatype: str) -> DataFrame:
    return spark.read.parquet(os.path.join(root, f"fact_{datatype}"))


def read_parquet_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    """``spark.read.parquet(path)``, or None when no table exists yet.

    "No table yet" means the PATH_NOT_FOUND error CLASS (with a
    message-substring fallback for builds predating getCondition), OR
    UNABLE_TO_INFER_SCHEMA on a directory this helper can POSITIVELY
    CONFIRM holds no visible data files — the footprint of an
    interrupted first write that created the directory (maybe a
    ``_SUCCESS``/``_temporary`` marker) but committed no part files;
    treating that as missing lets the next batch recover instead of
    failing the stream forever. The confirmation matters:
    UNABLE_TO_INFER_SCHEMA also fires when real part files exist but
    are invisible (renamed with a leading ``_``/``.`` by a botched
    copy) or unreadable — returning None there would silently turn the
    sink's incremental merge into an overwrite, so anything the local
    check cannot confirm empty still RAISES (as does every other read
    failure: corrupt footer, schema conflict — the defect class fixed
    in both streaming sinks, which share this helper so their
    semantics cannot drift)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        cond = None
        for probe in ("getCondition", "getErrorClass"):
            if hasattr(e, probe):
                cond = getattr(e, probe)()
                if cond:
                    break
        missing = (
            cond == "PATH_NOT_FOUND"
            if cond
            else "PATH_NOT_FOUND" in str(e)
        )
        if missing:
            return None
        if cond == "UNABLE_TO_INFER_SCHEMA" and _dir_has_no_visible_files(path):
            return None
        raise


def _dir_has_no_visible_files(path: str) -> bool:
    """True only when ``path`` is a local directory whose recursive
    contents are nothing but KNOWN commit-protocol markers (_SUCCESS,
    _started_*/_committed_* files, _temporary dirs, .crc sidecars).
    Anything else — including a part file someone renamed behind a
    leading ``_``/``.``, which Spark would skip but a human would call
    data — keeps the caller fail-loud, as do non-local or unreadable
    paths."""
    local = path[7:] if path.startswith("file://") else path
    if "://" in local or not os.path.isdir(local):
        return False

    def is_marker(name: str) -> bool:
        return (
            name == "_SUCCESS"
            or name.startswith(("_started_", "_committed_", "._"))
            or name.endswith(".crc")
        )

    try:
        for _root, dirs, files in os.walk(local):
            # _temporary holds uncommitted scratch — don't descend;
            # partition subdirs are descended into normally
            dirs[:] = [d for d in dirs if d != "_temporary"]
            if any(not is_marker(f) for f in files):
                return False
        return True
    except OSError:
        return False


def replay_from_date(
    spark: SparkSession,
    fact_updates: DataFrame,
    root: str,
    datatype: str,
    from_date: int,
) -> str:
    """S6 repair path: overwrite the partitions >= from_date that the
    update batch holds, by one dynamic partition overwrite. A partition
    >= from_date that the batch lacks is left as it is, NOT deleted as
    the reference's DELETE would; ``fact_updates`` must therefore carry
    every partition >= from_date the caller wants to keep. The stream
    sink does: it merges all existing partitions >= its batch's first
    day into the batch before replaying."""
    path = os.path.join(root, f"fact_{datatype}")
    updates = _truncate_value(
        fact_updates.filter(F.col("datestamp") >= from_date)
    )
    (
        updates.repartition("datestamp")
        .write.partitionBy("datestamp")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(path)
    )
    return path


def write_fact_bucketed(
    fact: DataFrame,
    root: str,
    datatype: str,
    table: str | None = None,
    buckets: int = 16,
    bucket_col: str = "eprintid",
) -> str:
    """Scale path: datestamp-partitioned AND eprintid-bucketed fact table.

    Bucketing pre-hashes the join/group key at write time: a join or
    aggregation between two tables bucketed the same way (same column,
    same bucket count) reads co-located buckets and plans ZERO exchanges
    — the 100 TB answer for fact-to-fact joins (downloads x views per
    eprint) and repeated per-eprint rollups, where re-shuffling the fact
    table per query would dominate. Requires saveAsTable (bucket metadata
    lives in the session catalog); plain parquet paths cannot carry it.
    tests/test_storage_streaming.py asserts the exchange-free join plan.
    """
    table = table or f"fact_{datatype}_bucketed"
    path = os.path.join(root, f"{table}")
    (
        _truncate_value(fact)
        .write.bucketBy(buckets, bucket_col)
        .sortBy(bucket_col)
        .option("path", path)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )
    return table
