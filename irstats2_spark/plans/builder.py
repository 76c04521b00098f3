"""Context -> one parameterized SQL statement: the reference's shapes.

Reproduces Handler.pm's three extract paths, each as one SQL text over
the store's views:
- extract_eprint_data (Handler.pm:219-406): fact scan, optional
  eprintid/date/datafilter predicates, GROUP BY selected fields. For one
  eprint, the pre-live-date clamp (Handler.pm:233-263) is a LEFT SEMI
  join to the eprint's live date (equal eprintid, datestamp >= live).
- extract_set_data (Handler.pm:415-573): one INNER join to the set
  dimension, set_value predicate, GROUP BY.
- extract_grouping_data (Handler.pm:575-649): INNER join to the grouping
  pair dimension, GROUP BY grouping_value ("top G within set member X").

What a view does with the grouped sum goes into the same statement, as
the reference's Handler.pm:373-384 puts ORDER BY and LIMIT into its one
query: a Counter's total, a Table's data_min, order and limit (planned as
TakeOrderedAndProject), and fp_stats's document count. Every request
reads the one daily fact of its datatype: the reference's rewrite of
undated queries onto lifetime ``cache_*`` copies (Data.pm:128-139) exists
because MySQL sums slowly, and a grouped sum over the daily fact answers
the same question.

Binding: only fixed fragments, the store's view names and the
P2-allowlisted field names go into the text. Every request value (the
eprintid, the dates, the set name and value, the grouping, the
datafilter, data_min and limit) is bound through ``spark.sql(text,
args=...)`` as a literal, so a value that still carries SQL after
``context.sanitize_param`` is only ever compared as a value. Building a
request is one ``spark.sql`` call, one parse and one analysis, and runs
no Spark job.

Views: a store registers its fact, set, grouping and eprints tables as
temporary views once, under names unique to that store
(``StatsStore.views``; a ``pinned()`` snapshot does it under the pin
lock), in the session its tables were read in. The statements run in
that session and change none of its conf. The views are dropped when
the store is garbage-collected, so the catalog does not keep a closed
snapshot's checkpoint blocks alive.

Scale: gold on disk is date-partitioned parquet. A request is served from
``StatsStore.pinned()``, an in-memory snapshot in which each table of at
most ``PIN_MAX_BYTES`` is one partition. When every table is, every join
is a shuffle-hash join (a SHUFFLE_HASH hint) and every compiled Context
is scan -> join -> grouped sum in ONE exchange-free stage, one Spark
job: a single partition already satisfies the join's and the aggregate's
distribution. A larger table is read from parquet as it is, with
partition pruning, and keeps the scale-out plan: dimensions broadcast (a
BROADCAST hint), then partial agg -> one shuffle on the grouping keys ->
final agg.
"""

from __future__ import annotations

import itertools
import threading
import weakref
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from irstats2_spark.plans.context import Context, VALID_FACT_FIELDS


@dataclass
class StatsStore:
    """The engine's tables: datatype -> fact DataFrame (FACT schema),
    the unified set/grouping dims, and the eprints metadata table.
    ``single_partition`` is true only on a ``pinned()`` snapshot whose
    tables are one partition each."""

    facts: dict[str, DataFrame]
    sets: DataFrame | None = None
    groupings: DataFrame | None = None
    rendered: DataFrame | None = None
    eprints: DataFrame | None = None
    single_partition: bool = field(default=False, init=False)
    _snapshot: "StatsStore | None" = field(
        default=None, init=False, repr=False, compare=False
    )
    _lock: threading.Lock = field(
        default_factory=threading.Lock, init=False, repr=False, compare=False
    )
    _views: "_Views | None" = field(
        default=None, init=False, repr=False, compare=False
    )

    def fact(self, datatype: str) -> DataFrame:
        if datatype not in self.facts:
            raise KeyError(
                f"unknown datatype '{datatype}'; registered: {sorted(self.facts)}"
            )
        return self.facts[datatype]

    def pinned(self) -> "StatsStore":
        """This store's tables as an in-memory snapshot, built once per
        store and shared by every request served from it.

        A table whose optimizer size is at most ``PIN_MAX_BYTES`` is
        coalesced to one partition and local-checkpointed, lazily: the
        first query that reads it materializes it. A larger table is kept
        as it is, with its partition pruning and scan pushdowns. Over a
        store read from disk no job runs here; over a store whose plans
        hold shuffles (``pipeline.build_store``), checkpointing runs those
        shuffle stages, and concurrent first requests wait for them. A
        checkpoint, unlike ``cache()``, is bound to this store's plans, so
        a store opened after new files land reads them, and the
        snapshot's blocks are freed with the store. The blocks live in
        executor memory, which the ``local[N]`` session of
        ``session.get_spark`` keeps for the life of the process. The
        snapshot's SQL views (``views``) are registered here, under the
        same lock, so requests share them from the first one on."""
        if self._snapshot is None:
            with self._lock:
                if self._snapshot is None:
                    single = []

                    def pin(df):
                        df, one = _pin(df)
                        single.append(one)
                        return df

                    snap = StatsStore(
                        facts={d: pin(df) for d, df in self.facts.items()},
                        sets=pin(self.sets),
                        groupings=pin(self.groupings),
                        rendered=pin(self.rendered),
                        eprints=pin(self.eprints),
                    )
                    snap.single_partition = all(single)
                    snap._snapshot = snap
                    snap.views()
                    self._snapshot = snap
        return self._snapshot

    def views(self) -> "_Views":
        """This store's tables as SQL views, registered once per store."""
        if self._views is None:
            with self._lock:
                if self._views is None:
                    self._views = _Views(self)
        return self._views


# a process-wide counter that keeps each store's view names apart
_STORE_IDS = itertools.count()


class _Views:
    """A store's fact, set, grouping and eprints tables registered as
    temporary views of the session that read them: ``names`` maps
    ``fact_<datatype>``, ``sets``, ``groupings`` and ``eprints`` to the
    view names, and ``session`` runs the statements over them. The views
    are dropped when the store is garbage-collected."""

    def __init__(self, store: StatsStore):
        tables = {f"fact_{d}": df for d, df in store.facts.items()}
        tables.update(sets=store.sets, groupings=store.groupings, eprints=store.eprints)
        tables = {k: df for k, df in tables.items() if df is not None}
        self.session = next(iter(tables.values())).sparkSession
        prefix = f"stats{next(_STORE_IDS)}_"
        for key, df in tables.items():
            df.createOrReplaceTempView(f"`{prefix}{key}`")
        self.names = {key: f"`{prefix}{key}`" for key in tables}
        self.full_text_status = (
            store.eprints is not None and "full_text_status" in store.eprints.columns
        )
        weakref.finalize(
            store, _drop_views, self.session, [prefix + key for key in tables]
        ).atexit = False


def _drop_views(spark: SparkSession, names: list[str]) -> None:
    if spark.sparkContext._jsc is None:  # the session has stopped
        return
    for name in names:
        spark.catalog.dropTempView(name)


# The largest table, by the optimizer's size estimate (parquet bytes on
# disk for a store read from disk), that ``StatsStore.pinned()`` folds
# into one partition. Measured with ``tools/pin_crossover.py`` on 4 cores:
# the snapshot answered every request shape faster than the pruned
# parquet plan at a 9.0 MB daily fact (2M rows); at 13.6 MB one eprint's
# week took as long as the parquet plan, at 18 MB longer. Above the bound
# a table keeps its parquet plan.
PIN_MAX_BYTES = 8 * 1024 * 1024


def _pin(df: DataFrame | None) -> tuple[DataFrame | None, bool]:
    """One table of a pinned snapshot, and whether it is one partition:
    a lazy local checkpoint of one partition when the table is at most
    ``PIN_MAX_BYTES``, else the table as it is."""
    if df is None:
        return None, True
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if int(size) > PIN_MAX_BYTES:
        return df, False
    return df.coalesce(1).localCheckpoint(eager=False), True


def compile_context(
    store: StatsStore,
    ctx: Context,
    fields: tuple[str, ...] = (),
    today=None,
    *,
    total: bool = False,
    ranked: bool = False,
    limit: int | None = None,
    data_min: int | None = None,
    documents: bool = False,
) -> DataFrame:
    """Compile a Context to ONE parameterized SQL statement over the
    store's views, a DataFrame of `<selected fields...>, count`: the
    reference's result contract (rows hydrated as {field: v, count: n},
    Handler.pm:389-404), as one grouped sum over the datatype's fact.

    The statement can also fold in what a view does with the sum:
    ``total`` sums it to one row, 0 when empty (A2, Data.pm:292-304);
    ``ranked`` keeps the groups of at least ``data_min`` and orders them
    by count, highest first, ties by key, cut to ``limit`` rows when it
    is given (O1-O3, Handler.pm:373-384); ``documents`` appends one row
    whose keys are NULL and whose count is the number of full-text
    documents in ``store.eprints`` (fp_stats:17-43)."""
    ctx = ctx.sanitized()
    from_i, to_i = ctx.resolved_dates(today=today)
    fields = list(fields)
    store.fact(ctx.datatype)  # an unknown datatype is a KeyError
    views = store.views()
    args: dict[str, object] = {}
    where: list[str] = []
    join = ""

    # --- eprint vs set vs grouping routing (Data.pm:141-152) ---------------
    is_eprint_path = ctx.set_name in (None, "", "eprint")

    if is_eprint_path and ctx.set_value is not None:
        args["eprintid"] = int(ctx.set_value)
        where.append("f.eprintid = :eprintid")
        if store.eprints is not None:
            # P4 (Handler.pm:233-263): keep only days from the eprint's
            # go-live date on; no live date (or no eprints row) matches
            # nothing, an empty window
            join = (
                "LEFT SEMI JOIN (SELECT eprintid, "
                "CAST(date_format(datestamp, 'yyyyMMdd') AS INT) AS live "
                f"FROM {views.names['eprints']} WHERE eprintid = :eprintid) d "
                "ON f.eprintid = d.eprintid AND f.datestamp >= d.live"
            )

    # --- P3 (Handler.pm:325-340): int-range predicate, '=' when collapsed --
    if from_i is not None:
        args["from_date"] = from_i
        where.append("f.datestamp " + ("=" if from_i == to_i else ">=") + " :from_date")
    if to_i is not None and to_i != from_i:
        args["to_date"] = to_i
        where.append("f.datestamp <= :to_date")

    # --- datafilter (P5, Handler.pm:350-354) + constant elimination --------
    if ctx.datafilter is not None:
        args["datafilter"] = ctx.datafilter
        where.append("f.value = :datafilter")
        fields = [f for f in fields if f != "value"]

    # --- the three shapes ---------------------------------------------------
    if not is_eprint_path:
        args["set_name"] = ctx.set_name
        member = ""
        if ctx.set_value is not None:
            args["set_value"] = ctx.set_value
            member = " AND set_value = :set_value"
        if ctx.grouping and ctx.grouping not in ("value", "eprint"):
            # grouping shape (Handler.pm:575-649)
            if ctx.grouping == ctx.set_name:
                raise ValueError(
                    "cannot group a set by itself (Handler.pm:577-583)"
                )
            if store.groupings is None:
                raise ValueError("no groupings dimension loaded")
            args["grouping"] = ctx.grouping
            dim = (
                "SELECT DISTINCT eprintid, grouping_value "
                f"FROM {views.names['groupings']} "
                f"WHERE set_name = :set_name AND grouping_name = :grouping{member}"
            )
            group_cols = ["grouping_value", *[f for f in fields if f != "grouping_value"]]
        else:
            # set shape (Handler.pm:415-573)
            if store.sets is None:
                raise ValueError("no sets dimension loaded")
            if ctx.set_value is not None:
                dim = "SELECT DISTINCT eprintid"
                group_cols = list(fields)
            else:
                dim = "SELECT eprintid, set_value"
                group_cols = ["set_value", *[f for f in fields if f != "set_value"]]
            dim += f" FROM {views.names['sets']} WHERE set_name = :set_name{member}"
        join = f"JOIN ({dim}) d ON f.eprintid = d.eprintid"
    elif ctx.grouping == "eprint":
        group_cols = ["eprintid", *[f for f in fields if f != "eprintid"]]
    elif ctx.grouping == "value":
        group_cols = ["value", *[f for f in fields if f != "value"]]
    else:
        group_cols = list(fields)

    # P2 (Handler.pm:290-293): unknown requested fields WARN and are
    # skipped, they do not fail the query
    allowed = VALID_FACT_FIELDS + ("set_value", "grouping_value")
    bad = [f for f in group_cols if f not in allowed]
    if bad:
        import logging

        logging.getLogger(__name__).warning(
            "ignoring invalid field(s) %s; allowed %s", bad, allowed
        )
    group_cols = [] if total else [
        f for f in group_cols if f != "count" and f in allowed
    ]

    # --- A1: the universal grouped sum -------------------------------------
    # over a single-partition snapshot a shuffle-hash join needs no
    # exchange, so the whole statement stays one stage; otherwise the
    # dimension side is broadcast
    hint = ""
    if join:
        hint = "/*+ SHUFFLE_HASH(d) */ " if store.single_partition else "/*+ BROADCAST(d) */ "
    keys = [f"{_DIM_FIELDS.get(c, 'f')}.{c}" for c in group_cols]
    total_sum = "COALESCE(SUM(f.count), 0)" if total else "SUM(f.count)"
    sql = " ".join([
        f"SELECT {hint}{''.join(k + ', ' for k in keys)}{total_sum} AS count",
        f"FROM {views.names[f'fact_{ctx.datatype}']} f",
        join,
        "WHERE " + " AND ".join(where) if where else "",
        "GROUP BY " + ", ".join(keys) if keys else "",
    ])
    if ranked:
        sql = f"SELECT * FROM ({sql})"
        if data_min is not None:
            args["data_min"] = data_min
            sql += " WHERE count >= :data_min"
        sql += " ORDER BY " + ", ".join(["count DESC", *(f"{c} ASC" for c in group_cols)])
        if limit is not None:
            args["limit"] = limit
            sql += " LIMIT :limit"
    if documents and store.eprints is not None:
        sql += (
            f" UNION ALL SELECT {'NULL, ' * len(keys)}COUNT(*) "
            f"FROM {views.names['eprints']}"
        )
        if views.full_text_status:
            sql += " WHERE full_text_status IN ('public', 'restricted')"
    return views.session.sql(sql, args=args)


# the compiled columns read from the dimension side of the join
_DIM_FIELDS = {"set_value": "d", "grouping_value": "d"}


def sum_all(df: DataFrame) -> DataFrame:
    """A2 (Data.pm:292-304): grand total over a compiled result."""
    return df.agg(F.coalesce(F.sum("count"), F.lit(0)).alias("count"))
