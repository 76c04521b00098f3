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


def write_fact(fact: DataFrame, root: str, datatype: str) -> str:
    """Write (overwrite) one datatype's fact table partitioned by datestamp."""
    path = os.path.join(root, f"fact_{datatype}")
    (
        _truncate_value(fact)
        .repartition("datestamp")
        .write.partitionBy("datestamp")
        .mode("overwrite")
        .parquet(path)
    )
    return path


# A gold fact table as read back: ``write_fact``'s columns, the
# ``datestamp`` partition column last.
FACT_SCHEMA = "eprintid INT, value STRING, count BIGINT, datestamp INT"


def read_fact(spark: SparkSession, root: str, datatype: str) -> DataFrame:
    """One datatype's fact table, read with ``FACT_SCHEMA``: inferring the
    schema would run a Spark job over the parquet footers on every open.
    A missing table still raises PATH_NOT_FOUND."""
    path = os.path.join(root, f"fact_{datatype}")
    return spark.read.schema(FACT_SCHEMA).parquet(path)


def read_parquet_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    """``spark.read.parquet(path)``, or None when no table exists yet.

    "No table yet" means the PATH_NOT_FOUND error class (or that text, on
    builds predating getCondition), or UNABLE_TO_INFER_SCHEMA on a
    directory confirmed to hold no visible data files: an interrupted
    first write, which the next batch may recover from. Anything else
    RAISES: invisible or unreadable part files, a corrupt footer, a schema
    conflict. Returning None there would turn a streaming merge (this
    module's ``merge_days``, ``pipeline.streams``) into an overwrite."""
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
    the reference's DELETE would; one it holds keeps the batch's rows
    alone (``merge_days`` first merges each day's existing rows in)."""
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


def merge_days(fact: DataFrame, root: str, datatype: str, days: list[int]) -> str:
    """Add ``fact``'s counts (on ``days`` only) to one datatype's gold
    table: the table's rows on ``days`` are read partition-pruned, re-summed
    with ``fact`` and replayed, so every other day keeps its files. A
    missing table is a first write; a corrupt one raises."""
    spark = fact.sparkSession
    existing = read_parquet_if_exists(spark, os.path.join(root, f"fact_{datatype}"))
    merged = fact
    if existing is not None:
        merged = (
            existing.filter(F.col("datestamp").isin(*days))
            .unionByName(fact)
            .groupBy("eprintid", "datestamp", "value")
            .agg(F.sum("count").alias("count"))
        )
    return replay_from_date(spark, merged, root, datatype, min(days))
