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
(tests/test_storage_streaming.py pins both halves). `repeat_filter_stream`
is the exact streaming Repeat filter for a caller that wants it; the fact
stream does not apply it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irstats2_spark.sources.access_log import parse_access_lines, with_event_columns


def read_access_stream(
    spark: SparkSession,
    path: str,
    dedup_lines: bool = True,
    watermark: str = "1 day",
    repeat_key_dedup: bool = False,
) -> DataFrame:
    """Streaming silver events from a directory of TSV log files.

    ``repeat_key_dedup`` keeps the first event per Repeat key within the
    watermark (``dropDuplicatesWithinWatermark``), an approximation of P9
    that refreshes nothing; the fact stream does not set it."""
    lines = spark.readStream.text(path)
    events = with_event_columns(parse_access_lines(lines))
    events = events.withWatermark("datestamp", watermark)
    if dedup_lines:
        # exact-line semantics: all 7 fields (S2, Access.pm:182-228)
        events = events.dropDuplicates(
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
    if repeat_key_dedup:
        # streaming approximation of P9 (Repeat.pm): first event per
        # repeat-key within the watermark+timeout horizon
        from irstats2_spark.operators.filters import repeat_key

        events = events.withColumn(
            "__rk",
            repeat_key(
                F.col("referent_id"), F.col("referent_docid"), F.col("requester_id")
            ),
        ).dropDuplicatesWithinWatermark(["__rk"]).drop("__rk")
    return events


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


def _repeat_fold(pdf, anchor, timeout, epoch_col, cols):
    """The Repeat filter's per-batch greedy fold (Repeat.pm:63-102):
    events sorted by epoch; within `timeout` of the anchor => dropped
    WITHOUT refreshing it; otherwise kept and the anchor moves."""
    import pandas as pd  # noqa: F811

    pdf = pdf.sort_values(epoch_col, kind="stable")
    keep = []
    for t in pdf[epoch_col]:
        if anchor is not None and abs(t - anchor) <= timeout:
            keep.append(False)  # dropped; anchor NOT refreshed
        else:
            keep.append(True)
            anchor = float(t)
    return pdf[pd.Series(keep, index=pdf.index)][cols], anchor



def repeat_filter_stream(
    events: DataFrame,
    timeout: int = 3600,
    epoch_col: str = "epoch",
    state_ttl: int | None = None,
    state_ttl_mode: str = "processing",
    max_event_lag: int = 7200,
) -> DataFrame:
    """EXACT streaming Repeat filter (P9) via applyInPandasWithState.

    The batch operator (operators.filters.repeat_filter) folds per key
    within one job; here the per-key anchor (epoch of the last KEPT
    event, Repeat.pm:63-102) lives in Spark's state store, so the
    first-kept-anchor semantics hold ACROSS micro-batches — unlike the
    dropDuplicatesWithinWatermark approximation in read_access_stream.

    Exact under per-key in-order arrival (the reference's situation:
    time-sorted log files); events are sorted by epoch within each
    micro-batch. State is one double per active key.

    ``state_ttl`` (seconds of PROCESSING time; None = keep state
    forever) is the reference's own prune rule (Repeat.pm:39-56: purge
    anchors older than the timeout) enforced by the engine: a
    per-key ProcessingTimeTimeout timer, re-armed on every update,
    removes idle keys' anchors — state stays bounded by keys ACTIVE
    within the TTL window instead of all keys ever seen, which at log
    scale (one key per eprint-doc-ip) is the difference between
    state ∝ traffic and state ∝ history. Semantics-preserving when
    ``state_ttl`` >= timeout + the stream's max event lag: an anchor
    idle for that long can never drop another in-order event, so
    expiring it changes nothing.

    ``state_ttl_mode`` picks the clock the TTL runs on:

    - ``"processing"`` (default): a per-key ProcessingTimeTimeout timer.
      For the CONTINUOUS-trigger ingest deployment ONLY — with
      ``Trigger.AvailableNow`` a pending processing-time timer prevents
      the run from self-terminating (measured on this Spark build: the
      NoTimeout form terminates, the processing-TTL form idles until
      externally stopped).
    - ``"event"``: a per-key EventTimeTimeout timer armed at
      anchor-event-time + state_ttl — the nightly/availableNow-
      compatible bounded-state option (r10 verdict #2): event-time
      timers fire off WATERMARK advancement, never wall-clock waits, so
      availableNow runs self-terminate normally while idle anchors are
      purged in the run's trailing no-data micro-batch once the
      watermark passes anchor + state_ttl. If the input already carries
      a watermark (``read_access_stream`` defines one on ``datestamp``)
      that watermark drives the timers — Spark disallows redefining it;
      otherwise a ``max_event_lag``-second watermark is added on
      ``epoch_col``. The semantics-preserving contract tightens to
      ``state_ttl >= timeout + <the effective watermark delay>``: a
      purged anchor is at least state_ttl of EVENT time behind the
      watermark, and any event the watermark still admits is at least
      (state_ttl - delay) >= timeout past that anchor, i.e. the fold
      would have kept it anyway. This is the batch-boundary clear_cache
      analog of Repeat.pm:39-56 — expiry advances with the data's own
      clock, exactly like the reference's log-time purge.
    """
    import pandas as pd  # noqa: F811

    from irstats2_spark.operators.filters import repeat_key

    if state_ttl_mode not in ("processing", "event"):
        raise ValueError(
            f"state_ttl_mode={state_ttl_mode!r}: use 'processing' "
            "(continuous triggers) or 'event' (availableNow-compatible)"
        )
    event_mode = state_ttl is not None and state_ttl_mode == "event"
    keyed = events.withColumn(
        "__rk",
        repeat_key(
            F.col("referent_id"), F.col("referent_docid"), F.col("requester_id")
        ),
    )
    has_watermark = any(
        "spark.watermarkDelayMs" in (f.metadata or {})
        for f in keyed.schema.fields
    )
    if event_mode and not has_watermark:
        keyed = keyed.withColumn(
            "__ts", F.timestamp_seconds(F.col(epoch_col))
        ).withWatermark("__ts", f"{int(max_event_lag)} seconds")
    hidden = {"__rk", "__ts"}
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in keyed.schema.fields
        if f.name not in hidden
    )
    cols = [f.name for f in keyed.schema.fields if f.name not in hidden]

    def fn(key, pdfs, state):
        if state_ttl is not None and state.hasTimedOut:
            # the key went idle past the TTL: its anchor can no longer
            # drop anything (contract above) — purge and emit nothing
            state.remove()
            return
        anchor = state.get[0] if state.exists else None
        for pdf in pdfs:
            kept, anchor = _repeat_fold(pdf, anchor, timeout, epoch_col, cols)
            yield kept
        if anchor is not None:
            state.update((float(anchor),))
            if event_mode:
                # expire when the WATERMARK passes anchor + ttl; Spark
                # requires the target to sit above the current watermark
                target = max(
                    int(anchor * 1000) + int(state_ttl) * 1000,
                    state.getCurrentWatermarkMs() + 1,
                )
                state.setTimeoutTimestamp(target)
            elif state_ttl is not None:
                state.setTimeoutDuration(int(state_ttl) * 1000)

    if state_ttl is None:
        timeout_conf = "NoTimeout"
    elif event_mode:
        timeout_conf = "EventTimeTimeout"
    else:
        timeout_conf = "ProcessingTimeTimeout"
    return keyed.groupBy("__rk").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="anchor double",
        outputMode="append",
        timeoutConf=timeout_conf,
    )


def session_counts_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    user_col: str = "requester_id",
    ts_col: str = "datestamp",
) -> DataFrame:
    """Streaming gap-based sessionization via Spark's native session
    windows: per (user, session) event counts, emitted once the watermark
    passes the session's end.

    This is the streaming face of operators/sessions.sessionize — batch
    assigns retrospective session numbers; streaming merges events into
    open sessions and finalizes them ``gap`` after the last event. Session
    state is per-key-per-open-session (bounded by the watermark), exactly
    the state profile that survives unbounded streams.

    Boundary note: session_window merges an event that lands EXACTLY at
    the previous window's end (gap == threshold) into a NEW session,
    whereas the batch operator's strict `> gap` keeps it — same off-by-
    instant family the Repeat filter documents for its streaming
    approximation (COVERAGE.md §2.9).
    """
    return (
        events.groupBy(
            F.col(user_col).alias("user_id"),
            F.session_window(F.col(ts_col), gap).alias("session"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
        )
    )


def interval_tag_stream(
    events: DataFrame,
    intervals: DataFrame,
    ts_col: str = "ts",
    bucket_seconds: int = 600,
    start_col: str = "start_us",
    end_col: str = "end_us",
) -> DataFrame:
    """Streaming twin of operators/intervals.interval_overlap_join for
    the point-in-interval case: tag each STREAMING event with the static
    interval(s) containing it.

    The static side explodes into covered bucket ids once (re-planned
    per micro-batch, so the interval table can be swapped under the
    checkpoint); the stream side's bucket is a stateless projection of
    the event time, and the stream-static inner join on the bucket id
    carries NO state at all — the same property that makes the
    dedup_doc_stream snapshot anti-join scale. The exact containment
    refilter keeps bucket size a pure performance knob here too.
    """
    bucket_us = int(bucket_seconds) * 1_000_000
    # floor, not cast: truncation-toward-zero mis-buckets negative
    # (pre-1970) microsecond values — same fix as operators/intervals.py.
    tagged = events.withColumn(
        "__bucket",
        F.floor(F.unix_micros(F.col(ts_col)) / bucket_us).cast("long"),
    )
    static = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / bucket_us).cast("long"),
                F.floor(F.col(end_col) / bucket_us).cast("long"),
            )
        ),
    )
    us = F.unix_micros(F.col(ts_col))
    return (
        tagged.join(static, "__bucket")
        .filter((us >= F.col(start_col)) & (us <= F.col(end_col)))
        .drop("__bucket")
    )
