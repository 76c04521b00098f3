"""Set / grouping / rendered-value dimension build (SURVEY §2.1 S7, §2.8
F9-F11; reference Sets.pm:222-457, Handler.pm:876-1009).

The reference drops + rebuilds one MySQL table pair per configured set by
scanning the archive row-at-a-time in -eprintid order. Here each set is an
explode/normalize/join over the eprints DataFrame; the sets' rows are
tagged with their set_name and unioned into one extract, from which the
three unified dimensions (sets, groupings, rendered values) derive. The
reference's "most recent eprint's rendering wins" rule (Sets.pm:279-280)
becomes an explicit row_number() window.

Set types (Sets.pm:362-457):
- simple: key = raw value (md5 if anon)
- name:   display = name-cased "Family, Given"; key = display (md5 if anon)
- compound: key = lc(subfield value) (md5 if anon); display from the name
  subfield; rows with empty id subfield dropped
- subject: value expands to itself + all ancestors (stats roll up the
  hierarchy); non-postable ancestors dropped unless whitelisted
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from irstats2_spark.functions.names import normalise_name_udf


@dataclass(frozen=True)
class SetConfig:
    """One entry of the sets registry (cfg.d/z_irstats2.pl:161-203)."""

    field_name: str
    name: str | None = None
    type: str = "simple"  # simple | name | compound | subject
    groupings: tuple[str, ...] = ()
    anon: bool = False
    id_field: str = "id"
    blacklist: tuple[str, ...] = ()
    whitelist: tuple[str, ...] = ()  # non-postable subjects to keep

    @property
    def set_name(self) -> str:
        return self.name or self.field_name


DEFAULT_SETS: tuple[SetConfig, ...] = (
    SetConfig(field_name="divisions", groupings=("authors", "type")),
    SetConfig(field_name="subjects", type="subject", groupings=("authors", "type")),
    SetConfig(field_name="type", name="type", groupings=("authors",)),
    SetConfig(
        field_name="creators", name="authors", type="compound", anon=True,
        groupings=("type",),
    ),
)


def _maybe_anon(col, anon: bool):
    """F10 (Sets.pm:341-360): md5 of the utf8 value when the set is anon."""
    return F.md5(col) if anon else col


def subject_closure(subjects: DataFrame) -> DataFrame:
    """F9: ancestor closure `(subjectid, ancestor)` including self.

    The subject table is config-sized (a few levels, FIXTURES §4), so one
    job collects its `(subjectid, parent)` edges and the driver walks each
    subject's parents; the visited set ends a cyclic tree."""
    parents: dict = {}
    ids = []
    for sid, parent in subjects.select("subjectid", "parent").collect():
        ids.append(sid)
        if sid is not None and parent is not None:
            parents.setdefault(sid, []).append(parent)
    rows = set()
    for sid in ids:
        seen, todo = {sid}, [sid]
        while todo:
            for parent in parents.get(todo.pop(), ()):
                if parent not in seen:
                    seen.add(parent)
                    todo.append(parent)
        rows.update((sid, anc) for anc in seen)
    dtype = subjects.schema["subjectid"].dataType
    schema = T.StructType(
        [T.StructField("subjectid", dtype), T.StructField("ancestor", dtype)]
    )
    return subjects.sparkSession.createDataFrame(list(rows), schema)


def _extract_values(eprints: DataFrame, cfg: SetConfig, subjects: DataFrame | None):
    """Explode one set's field into (eprintid, set_value, rendered)."""
    fn = cfg.field_name
    if cfg.type == "compound":
        ex = eprints.select(
            "eprintid", F.explode(F.col(fn)).alias("v")
        ).filter(
            F.col(f"v.{cfg.id_field}").isNotNull() & (F.col(f"v.{cfg.id_field}") != "")
        )
        key = _maybe_anon(F.lower(F.col(f"v.{cfg.id_field}")), cfg.anon)
        rendered = normalise_name_udf(F.col("v.name.family"), F.col("v.name.given"))
        return ex.select(
            "eprintid", key.alias("set_value"), rendered.alias("rendered_set_value")
        )
    if cfg.type == "name":
        ex = eprints.select("eprintid", F.explode(F.col(fn)).alias("v"))
        rendered = normalise_name_udf(F.col("v.family"), F.col("v.given"))
        ex = ex.select("eprintid", rendered.alias("rendered_set_value"))
        return ex.filter(F.col("rendered_set_value").isNotNull()).select(
            "eprintid",
            _maybe_anon(F.col("rendered_set_value"), cfg.anon).alias("set_value"),
            "rendered_set_value",
        )
    if cfg.type == "subject":
        if subjects is None:
            raise ValueError("subject set requires the subjects table")
        ex = eprints.select("eprintid", F.explode(F.col(fn)).alias("raw"))
        # rename closure columns so the two subject-derived sides of the
        # double join don't share expression ids (self-join ambiguity)
        closure = subject_closure(subjects).select(
            F.col("subjectid").alias("cl_subject"),
            F.col("ancestor").alias("cl_ancestor"),
        )
        # keep: self always; ancestors only if postable or whitelisted
        meta = subjects.select(
            F.col("subjectid").alias("meta_subject"),
            "can_post",
            F.col("name").alias("subj_name"),
        )
        expanded = (
            ex.join(F.broadcast(closure), ex.raw == closure.cl_subject, "inner")
            .join(F.broadcast(meta), F.col("cl_ancestor") == meta.meta_subject, "inner")
            .filter(
                (F.col("cl_ancestor") == F.col("raw"))
                | F.col("can_post")
                | F.col("cl_ancestor").isin(*cfg.whitelist)
                if cfg.whitelist
                else ((F.col("cl_ancestor") == F.col("raw")) | F.col("can_post"))
            )
        )
        key = _maybe_anon(F.col("cl_ancestor"), cfg.anon)
        return expanded.select(
            "eprintid", key.alias("set_value"), F.col("subj_name").alias("rendered_set_value")
        )
    # simple: field may be scalar or array
    dtype = dict(eprints.dtypes).get(fn, "string")
    col = F.explode(F.col(fn)) if dtype.startswith("array") else F.col(fn)
    ex = eprints.select("eprintid", col.alias("raw")).filter(
        F.col("raw").isNotNull() & (F.col("raw") != "")
    )
    return ex.select(
        "eprintid",
        _maybe_anon(F.col("raw"), cfg.anon).alias("set_value"),
        F.col("raw").alias("rendered_set_value"),
    )


def build_dimensions(
    eprints: DataFrame,
    sets: tuple[SetConfig, ...] = DEFAULT_SETS,
    subjects: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """S7: produce the three unified dimension tables for all sets.

    Returns {'sets': SET_DIM, 'groupings': GROUPING_DIM,
    'rendered': RENDERED_DIM}, all derived from ONE extract: every set's
    (eprintid, set_value, rendered_set_value) rows tagged with their
    set_name and unioned. ``sets`` is its distinct membership,
    ``rendered`` one row_number window over (set_name, set_value) (the
    most recent eprint's rendering wins, Sets.pm:279-280), ``groupings``
    the membership joined to a broadcast table of the configured
    (set_name, grouping_name) pairs and back to the membership of the
    grouping set on eprintid.

    Cache lifecycle: the tagged extract is pinned (three consumers); the
    CALLER owns the pin — an ETL run writes the dimensions and then
    clearCache()s (see pipeline.lifecycle for the contract).
    """
    parts = []
    for cfg in sets:
        vals = _extract_values(eprints, cfg, subjects)
        for b in cfg.blacklist:
            vals = vals.filter(F.col("set_value") != b)
        parts.append(
            vals.select(
                F.lit(cfg.set_name).alias("set_name"),
                "set_value",
                "eprintid",
                "rendered_set_value",
            )
        )
    tagged = reduce(DataFrame.unionByName, parts).cache()

    sets_dim = tagged.select("set_name", "set_value", "eprintid").distinct()
    w = Window.partitionBy("set_name", "set_value").orderBy(F.col("eprintid").desc())
    rendered_dim = (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("set_name", "set_value", "rendered_set_value")
    )

    names = {c.set_name for c in sets}
    pairs = list(
        dict.fromkeys(
            (c.set_name, g) for c in sets for g in c.groupings if g in names
        )
    )
    groupings_dim = None
    if pairs:
        configured = eprints.sparkSession.createDataFrame(
            pairs, "set_name string, grouping_name string"
        )
        members = sets_dim.select(
            F.col("set_name").alias("grouping_name"),
            "eprintid",
            F.col("set_value").alias("grouping_value"),
        )
        groupings_dim = (
            sets_dim.join(F.broadcast(configured), "set_name")
            .join(members, ["grouping_name", "eprintid"])
            .select(
                "set_name", "set_value", "eprintid", "grouping_name", "grouping_value"
            )
        )
    return {"sets": sets_dim, "groupings": groupings_dim, "rendered": rendered_dim}
