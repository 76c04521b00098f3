"""Explicit schemas for every table the engine touches.

Mirrors the reference's code-defined fixed schemas
(reference: plugins/EPrints/Plugin/Stats/Handler.pm:147-199,908-1009 —
fact tables `(uid, eprintid, datestamp, value, count)`, set tables
`(set_value, set_eprintid)`, grouping tables
`(set_value, set_eprintid, grouping_name, grouping_value)`) and the
access-log line format (Processor/Access.pm:16-43, Logger.pm:42-48).

Dates in fact tables are kept as int YYYYMMDD for parity with the
reference's deliberate int-date design (Handler.pm:146,175-181,
Utils.pm:125-130); a DateType helper column is derived where Spark's
date functions are wanted.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Raw access event: the 7 TSV fields of the reference access log
# (FIXTURES.md §1; Logger.pm:42-48).
ACCESS_EVENT = T.StructType(
    [
        T.StructField("datestamp", T.TimestampType()),
        T.StructField("requester_id", T.StringType()),
        T.StructField("requester_user_agent", T.StringType()),
        T.StructField("referring_entity_id", T.StringType()),
        T.StructField("service_type_id", T.StringType()),
        T.StructField("referent_id", T.IntegerType()),
        T.StructField("referent_docid", T.IntegerType()),  # non-null <=> download
    ]
)

# Daily-grain fact table, one per datatype (Handler.pm:147-199).
# `uid` is omitted: it is a synthetic PK never used by any query.
FACT = T.StructType(
    [
        T.StructField("eprintid", T.IntegerType()),
        T.StructField("datestamp", T.IntegerType()),  # YYYYMMDD; 0 for lifetime caches
        T.StructField("value", T.StringType()),
        T.StructField("count", T.LongType()),
    ]
)

# Set-membership dimension (Handler.pm:920-940), unified across set names
# (the reference has one table per set; a single partitioned table scans
# identically under partition pruning and simplifies the registry).
SET_DIM = T.StructType(
    [
        T.StructField("set_name", T.StringType()),
        T.StructField("set_value", T.StringType()),
        T.StructField("eprintid", T.IntegerType()),
    ]
)

# Grouping pair dimension (Handler.pm:942-977).
GROUPING_DIM = T.StructType(
    [
        T.StructField("set_name", T.StringType()),
        T.StructField("set_value", T.StringType()),
        T.StructField("eprintid", T.IntegerType()),
        T.StructField("grouping_name", T.StringType()),
        T.StructField("grouping_value", T.StringType()),
    ]
)

# Rendered display values (Handler.pm:980-1006).
RENDERED_DIM = T.StructType(
    [
        T.StructField("set_name", T.StringType()),
        T.StructField("set_value", T.StringType()),
        T.StructField("rendered_set_value", T.StringType()),
    ]
)
