"""Context -> DataFrame compilation: the reference's two SQL shapes.

Reproduces Handler.pm's three extract paths as declarative plans:
- extract_eprint_data (Handler.pm:219-406): fact scan, optional
  eprintid/date/datafilter predicates, GROUP BY selected fields.
- extract_set_data (Handler.pm:415-573): one INNER join to the set
  dimension, set_value predicate, GROUP BY.
- extract_grouping_data (Handler.pm:575-649): INNER join to the grouping
  pair dimension, GROUP BY grouping_value ("top G within set member X").

Plus the documented optimizations:
- cache-table rewrite (Data.pm:128-139): undated lifetime queries
  retargeted to the cache_* facts;
- pre-live-date clamp (Handler.pm:233-263) for single-eprint queries,
  compiled as a broadcast semi-join to the eprint's live date, so that
  compiling a Context never runs a Spark job;
- ORDER BY + LIMIT compiled together => TakeOrderedAndProject.

Scale: facts are date-partitioned parquet — the date predicate is pure
partition pruning; dimensions broadcast; every query is scan -> (bcast
join) -> partial agg -> final agg, a single shuffle on the grouping keys.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from irstats2_spark.plans.context import Context, QueryOptions, VALID_FACT_FIELDS


@dataclass
class StatsStore:
    """The engine's tables: datatype -> fact DataFrame (FACT schema),
    the unified set/grouping dims, and the eprints metadata table."""

    facts: dict[str, DataFrame]
    sets: DataFrame | None = None
    groupings: DataFrame | None = None
    rendered: DataFrame | None = None
    eprints: DataFrame | None = None

    def fact(self, datatype: str) -> DataFrame:
        if datatype not in self.facts:
            raise KeyError(
                f"unknown datatype '{datatype}'; registered: {sorted(self.facts)}"
            )
        return self.facts[datatype]


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
    opts: QueryOptions | None = None,
    today=None,
) -> DataFrame:
    """Compile a Context (+options) to a DataFrame of
    `<selected fields...>, count` — the reference's result contract
    (rows hydrated as {field: v, count: n}, Handler.pm:389-404)."""
    opts = opts or QueryOptions()
    ctx = ctx.sanitized()
    from_i, to_i = ctx.resolved_dates(today=today)

    datatype = ctx.datatype
    fields = list(opts.fields)

    # --- cache-table rewrite (Data.pm:128-139) -----------------------------
    undated = from_i is None and to_i is None
    if (
        undated
        and "datestamp" not in fields
        and f"cache_{datatype}" in store.facts
    ):
        datatype = f"cache_{datatype}"

    fact = store.fact(datatype)

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
                F.date_format("datestamp", "yyyyMMdd").cast("int").alias("live")
            )
            fact = fact.join(
                F.broadcast(live), F.col("datestamp") >= F.col("live"), "left_semi"
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
            joined = fact.join(F.broadcast(dim), "eprintid", "inner")
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
            joined = fact.join(
                F.broadcast(dim.select("eprintid").distinct())
                if ctx.set_value is not None
                else F.broadcast(dim),
                "eprintid",
                "inner",
            )
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

    # --- data_min post-filter (P11) ----------------------------------------
    if opts.data_min is not None:
        out = out.filter(F.col("count") >= opts.data_min)

    # --- O1/O2: order + limit/offset ---------------------------------------
    order_col = opts.order_by or "count"
    if order_col not in group_cols + ["count"]:
        raise ValueError(
            f"order_by '{order_col}' not in selected fields (Data.pm:74-78)"
        )
    ordering = F.col(order_col).desc() if opts.order_desc else F.col(order_col).asc()
    # deterministic tie-break on the remaining keys
    ties = [F.col(c).asc() for c in group_cols if c != order_col]
    if opts.limit is not None or opts.offset is not None or opts.order_by:
        out = out.orderBy(ordering, *ties)
    if opts.offset:
        out = out.offset(opts.offset)
    if opts.limit is not None:
        out = out.limit(opts.limit)
    return out


def sum_all(df: DataFrame) -> DataFrame:
    """A2 (Data.pm:292-304): grand total over a compiled result."""
    return df.agg(F.coalesce(F.sum("count"), F.lit(0)).alias("count"))
