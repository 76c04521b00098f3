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
  partition; a day the batch does not touch keeps its files.

Batch/stream differences (tests/test_storage_streaming.py pins each):
- chosen: streamed facts get line dedup ONLY. The Robots (P8) and Repeat
  (P9) filters run in the nightly batch rebuild
  (`etl.pipeline.build_silver_events`), which replaces the streamed days;
  until then a streamed day counts robot hits and repeat clicks.
- kept: the watermark drops whole LINES, not just duplicates. A unique
  line older than one day before the previous micro-batch's newest event
  is never streamed; the nightly batch counts it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

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

    foreachBatch runs the SAME batch processors per micro-batch: one
    action collects the days the batch touches (an empty batch ends
    there), then ``storage.merge_days`` adds each datatype's counts to
    gold, rewriting those days' partitions only.
    """
    from irstats2_spark.etl import processors as P
    from irstats2_spark.sources.storage import merge_days

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        days = [r[0] for r in batch_df.select("date_key").dropna().distinct().collect()]
        if not days:
            return
        merge_days(P.downloads(batch_df), output_root, "downloads", days)
        merge_days(P.views(batch_df), output_root, "views", days)

    writer = events.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
