"""Access-log ingestion: S1 gzip archive scan, S2 current-file ingest with
line dedup, P1 parse (SURVEY §2.1-§2.2).

The reference walks `var/access/<YYYY>/YYYY-MM-DD.log.gz` line by line
(Processor/Access.pm:90-147) and parses with an anchored regex
(Access.pm:16-43), silently dropping malformed lines. Here:

- `spark.read.text` over a glob handles .gz transparently (gzip codec by
  extension); date-based file skipping becomes partition pruning when the
  bronze table is written partitioned by date.
- parse = one `from_csv`-style split + strict timestamp regex gate; rows
  failing the gate are dropped, exactly like the reference.
- S2's exact-line dedup (Access.pm:182-228) is `dropDuplicates` on the
  raw line BEFORE parsing.

At 100 TB: text-scan → filter → project is a single map-only stage; the
only shuffle in bronze ingestion is the optional dedup (hash-partitioned
by full line — unavoidable for exact dedup, and cheap because it carries
one string column, not the parsed struct).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_TS_RE = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z$"


def parse_access_lines(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """P1: split the 7-field TSV line and type the fields; malformed rows
    (wrong field count / bad timestamp / non-numeric ids) are dropped
    silently (Access.pm:16-43)."""
    parts = F.split(F.col(value_col), "\t", -1)
    df = lines.select(
        parts.alias("p"), F.size(parts).alias("n")
    ).filter(
        (F.col("n") == 7) & F.col("p").getItem(0).rlike(_TS_RE)
    )
    ts = F.to_timestamp(F.col("p").getItem(0), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    to_int = lambda c: F.when(c.rlike(r"^\d+$"), c.cast("int"))  # noqa: E731
    return df.select(
        ts.alias("datestamp"),
        F.col("p").getItem(1).alias("requester_id"),
        F.col("p").getItem(2).alias("requester_user_agent"),
        F.col("p").getItem(3).alias("referring_entity_id"),
        F.col("p").getItem(4).alias("service_type_id"),
        to_int(F.col("p").getItem(5)).alias("referent_id"),
        to_int(F.col("p").getItem(6)).alias("referent_docid"),
    )  # null referent ids survive parse; each processor drops what it
    # requires (e.g. DocDownloads only needs referent_docid)


def read_access_logs(spark: SparkSession, path: str) -> DataFrame:
    """S1+S2: read raw log lines (plain or .gz via glob), dedup exact
    duplicate lines, and parse them (``parse_access_lines``)."""
    return parse_access_lines(spark.read.text(path).dropDuplicates(["value"]))


def with_event_columns(events: DataFrame) -> DataFrame:
    """Derive the per-record fields every processor shares
    (Access.pm:26-43,85): int date key, epoch seconds, is_download."""
    return (
        events.withColumn(
            "date_key", F.date_format("datestamp", "yyyyMMdd").cast("int")
        )
        .withColumn("epoch", F.unix_timestamp("datestamp"))
        .withColumn(
            "is_download",
            F.col("referent_docid").isNotNull(),
        )
    )


def events_from_driver_table(events: DataFrame, user_agent=None) -> DataFrame:
    """Adapter: project the driver's generic `events` table
    (event_id, ts, user_id, event_type, value, props) onto the
    access-event shape so the full ETL path can run on driver data.
    Mapping: user_id => requester entity, event_type 'click' => download
    (docid set), everything else => abstract view.

    ``user_agent``: optional Column over the input's columns for the UA
    field (default: a constant non-robot UA) — lets gate queries exercise
    the robots filter inside the full pipeline.
    """
    if user_agent is None:
        user_agent = F.lit("Mozilla/5.0 (synthetic)")
    return with_event_columns(
        events.select(
            F.col("ts").alias("datestamp"),
            F.concat(
                F.lit("10."),
                (F.col("user_id") % 256).cast("string"),
                F.lit("."),
                ((F.col("user_id") / 256).cast("long") % 256).cast("string"),
                F.lit(".1"),
            ).alias("requester_id"),
            user_agent.alias("requester_user_agent"),
            F.lit(None).cast("string").alias("referring_entity_id"),
            F.when(F.col("event_type") == "click", F.lit("?fulltext=yes"))
            .otherwise(F.lit("?abstract=yes"))
            .alias("service_type_id"),
            (F.col("user_id") % 100).cast("int").alias("referent_id"),
            F.when(
                F.col("event_type") == "click", (F.col("event_id") % 500).cast("int")
            ).alias("referent_docid"),
        )
    )
