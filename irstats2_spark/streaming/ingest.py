"""Structured Streaming ingestion of access logs (SURVEY §2.9).

The reference is micro-batch incremental: nightly run over not-yet-archived
log files with a checkpoint in `irstats2_internal`, line dedup, and a lock
(Processor/Access.pm:149-351). The Spark-native translation:

- `readStream.text` file source over the `current/` directory — Spark's
  file-source tracking IS the "which files are new" work-list; the
  streaming checkpoint replaces `irstats2_internal` and the lock (exactly
  one query per checkpoint dir can run).
- parse with the same P1 projection (shared code with batch).
- `withWatermark` + `dropDuplicates` on the raw line within the watermark
  ≡ S2's exact-line dedup against the recent archive.
- `foreachBatch` upserts daily aggregates into the gold fact tables via
  dynamic partition overwrite — late events rewrite only their day's
  partition.

Batch/stream difference, chosen: streamed facts get line dedup ONLY. The
Robots (P8) and Repeat (P9) filters run in the nightly batch rebuild
(`etl.pipeline.build_silver_events`), which replaces the streamed days.
Until then a streamed day counts robot hits and repeat clicks; on a day
with neither, stream and batch give the same downloads and views
(tests/test_storage_streaming.py pins both halves).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irstats2_spark.sources.access_log import parse_access_lines, with_event_columns


def read_access_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming silver events from a directory of TSV log files, exact
    duplicate lines dropped within a one-day watermark."""
    lines = spark.readStream.text(path)
    events = with_event_columns(parse_access_lines(lines))
    # exact-line semantics: all 7 fields (S2, Access.pm:182-228)
    return events.withWatermark("datestamp", "1 day").dropDuplicates(
        [
            "datestamp",
            "requester_id",
            "requester_user_agent",
            "referring_entity_id",
            "service_type_id",
            "referent_id",
            "referent_docid",
        ]
    )


def start_fact_stream(
    events: DataFrame,
    output_root: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Continuously fold the stream into daily downloads/views facts.

    foreachBatch runs the SAME batch processors per micro-batch and merges
    by dynamic partition overwrite — identical code for batch and stream,
    the Spark analog of the reference's single nightly ETL path.
    """
    from irstats2_spark.etl import processors as P
    from irstats2_spark.sources.storage import replay_from_date

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        for datatype, fact in (
            ("downloads", P.downloads(batch_df)),
            ("views", P.views(batch_df)),
        ):
            min_day = fact.agg(F.min("datestamp")).head()[0]
            if min_day is None:
                continue
            # merge: union with existing partitions >= min_day, re-aggregate.
            # Missing fact table == first batch; ANY OTHER read failure
            # (corrupt/partial parquet, transient IO) must propagate — a
            # swallowed error here would silently drop the merge and
            # OVERWRITE existing partitions with this batch alone.
            import os

            from irstats2_spark.sources.storage import read_parquet_if_exists

            existing = read_parquet_if_exists(
                spark, os.path.join(output_root, f"fact_{datatype}")
            )
            if existing is not None:
                merged = (
                    existing.filter(F.col("datestamp") >= min_day)
                    .unionByName(fact)
                    .groupBy("eprintid", "datestamp", "value")
                    .agg(F.sum("count").alias("count"))
                )
            else:
                merged = fact  # first batch: nothing to merge
            replay_from_date(spark, merged, output_root, datatype, min_day)

    writer = events.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
