"""Context -> DataFrame compilation: the reference's two SQL shapes.

Reproduces Handler.pm's three extract paths as declarative plans:
- extract_eprint_data (Handler.pm:219-406): fact scan, optional
  eprintid/date/datafilter predicates, GROUP BY selected fields.
- extract_set_data (Handler.pm:415-573): one INNER join to the set
  dimension, set_value predicate, GROUP BY.
- extract_grouping_data (Handler.pm:575-649): INNER join to the grouping
  pair dimension, GROUP BY grouping_value ("top G within set member X").

Every request reads the one daily fact of its datatype: the reference's
rewrite of undated queries onto lifetime ``cache_*`` copies
(Data.pm:128-139) exists because MySQL sums slowly, and a grouped sum
over the daily fact answers the same question. The pre-live-date clamp
(Handler.pm:233-263) of single-eprint queries compiles to a semi-join to
the eprint's live date (equal eprintid, datestamp >= live), so compiling
a Context never runs a Spark job. Ranking (ORDER BY count + LIMIT, which
plans as TakeOrderedAndProject) belongs to the one view that ranks,
``plans.views.top_table``.

Scale: gold on disk is date-partitioned parquet. A request is served from
``StatsStore.pinned()``, an in-memory snapshot in which each table of at
most ``PIN_MAX_BYTES`` is one partition. When every table is, every join
is a shuffle-hash join and every compiled Context is scan -> join ->
grouped sum in ONE exchange-free stage, one Spark job: a single partition
already satisfies the join's and the aggregate's distribution. A larger
table is read from parquet as it is, with partition pruning, and keeps
the scale-out plan: dimensions broadcast, then partial agg -> one shuffle
on the grouping keys -> final agg.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
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
        ``session.get_spark`` keeps for the life of the process."""
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
                    self._snapshot = snap
        return self._snapshot


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


def _join_hint(store: StatsStore, dim: DataFrame) -> DataFrame:
    """The build side of a dimension join. Over a single-partition
    snapshot a shuffle-hash join needs no exchange, so the whole query
    stays one stage; otherwise the dimension is broadcast."""
    return dim.hint("shuffle_hash") if store.single_partition else F.broadcast(dim)


def _apply_dates(df: DataFrame, from_i: int | None, to_i: int | None) -> DataFrame:
    """P3 (Handler.pm:325-340): int-range predicate, '=' when collapsed."""
    if from_i is not None and to_i is not None:
        if from_i == to_i:
            return df.filter(F.col("datestamp") == from_i)
        return df.filter(F.col("datestamp").between(from_i, to_i))
    if from_i is not None:
        return df.filter(F.col("datestamp") >= from_i)
    if to_i is not None:
        return df.filter(F.col("datestamp") <= to_i)
    return df


def compile_context(
    store: StatsStore,
    ctx: Context,
    fields: tuple[str, ...] = (),
    today=None,
) -> DataFrame:
    """Compile a Context to a DataFrame of `<selected fields...>, count`:
    the reference's result contract (rows hydrated as {field: v, count: n},
    Handler.pm:389-404), as one grouped sum over the datatype's fact."""
    ctx = ctx.sanitized()
    from_i, to_i = ctx.resolved_dates(today=today)
    fields = list(fields)
    fact = store.fact(ctx.datatype)

    # --- eprint vs set vs grouping routing (Data.pm:141-152) ---------------
    is_eprint_path = ctx.set_name in (None, "", "eprint")

    if is_eprint_path and ctx.set_value is not None:
        epid = int(ctx.set_value)
        fact = fact.filter(F.col("eprintid") == epid)
        if store.eprints is not None:
            # P4 (Handler.pm:233-263): keep only days from the eprint's
            # go-live date on; no live date (or no eprints row) matches
            # nothing, an empty window
            live = store.eprints.filter(F.col("eprintid") == epid).select(
                F.col("eprintid").alias("__lid"),
                F.date_format("datestamp", "yyyyMMdd").cast("int").alias("live"),
            )
            fact = fact.join(
                _join_hint(store, live),
                (F.col("eprintid") == F.col("__lid"))
                & (F.col("datestamp") >= F.col("live")),
                "left_semi",
            )

    fact = _apply_dates(fact, from_i, to_i)

    # --- datafilter (P5, Handler.pm:350-354) + constant elimination --------
    if ctx.datafilter is not None:
        fact = fact.filter(F.col("value") == ctx.datafilter)
        fields = [f for f in fields if f != "value"]

    # --- the three shapes ---------------------------------------------------
    if not is_eprint_path:
        if ctx.grouping and ctx.grouping not in ("value", "eprint"):
            # grouping shape (Handler.pm:575-649)
            if ctx.grouping == ctx.set_name:
                raise ValueError(
                    "cannot group a set by itself (Handler.pm:577-583)"
                )
            if store.groupings is None:
                raise ValueError("no groupings dimension loaded")
            dim = store.groupings.filter(
                (F.col("set_name") == ctx.set_name)
                & (F.col("grouping_name") == ctx.grouping)
            )
            if ctx.set_value is not None:
                dim = dim.filter(F.col("set_value") == ctx.set_value)
            dim = dim.select("eprintid", "grouping_value").distinct()
            joined = fact.join(_join_hint(store, dim), "eprintid", "inner")
            group_cols = ["grouping_value", *[f for f in fields if f != "grouping_value"]]
        else:
            # set shape (Handler.pm:415-573)
            if store.sets is None:
                raise ValueError("no sets dimension loaded")
            dim = store.sets.filter(F.col("set_name") == ctx.set_name)
            if ctx.set_value is not None:
                dim = dim.filter(F.col("set_value") == ctx.set_value)
                group_cols = list(fields)
            else:
                group_cols = ["set_value", *[f for f in fields if f != "set_value"]]
            dim = dim.select("eprintid", "set_value")
            if ctx.set_value is not None:
                dim = dim.select("eprintid").distinct()
            joined = fact.join(_join_hint(store, dim), "eprintid", "inner")
        fact = joined
    else:
        if ctx.grouping == "eprint":
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
    group_cols = [f for f in group_cols if f != "count" and f in allowed]

    # --- A1: the universal grouped sum -------------------------------------
    if group_cols:
        out = fact.groupBy(*group_cols).agg(F.sum("count").alias("count"))
    else:
        out = fact.agg(F.sum("count").alias("count"))
    return out


def sum_all(df: DataFrame) -> DataFrame:
    """A2 (Data.pm:292-304): grand total over a compiled result."""
    return df.agg(F.coalesce(F.sum("count"), F.lit(0)).alias("count"))
