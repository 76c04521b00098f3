"""The Context — the reference's entire query "language" (SURVEY §1.4;
Context.pm:14-25 + per-view options Utils.pm:52-110).

A Context plus the fields a view selects compiles to exactly one of two
DataFrame shapes (see plans/builder.py). Validation mirrors Context.pm:438-549:
param sanitization, date normalization, registry checks.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, replace

from irstats2_spark.functions.dates import normalise_dates

# Context.pm:444-449: strip dangerous chars from incoming params.
_SANITIZE_RE = re.compile(r"[<>/\\;=&?%'\x00-\x1f]")

VALID_FACT_FIELDS = ("eprintid", "datestamp", "value", "count")


def sanitize_param(v: str | None) -> str | None:
    """P12: character strip (not SQL-injection defense — the engine never
    string-builds SQL — but kept for behavioral parity)."""
    if v is None:
        return None
    return _SANITIZE_RE.sub("", str(v))


@dataclass(frozen=True)
class Context:
    """The ten context fields (Context.pm:14-25)."""

    datatype: str = "downloads"
    set_name: str | None = None
    set_value: str | None = None
    grouping: str | None = None
    datafilter: str | None = None
    range: str | None = None  # '_ALL_' | 'YYYY' | '<n>[dmy]'
    from_date: str | int | None = None
    to_date: str | int | None = None
    irs2report: str | None = None
    cache: bool = True

    def resolved_dates(self, today=None) -> tuple[int | None, int | None]:
        """T3: (from, to) as int YYYYMMDD; (None, None) for _ALL_."""
        return normalise_dates(self.range, self.from_date, self.to_date, today=today)

    def sanitized(self) -> "Context":
        return replace(
            self,
            datatype=sanitize_param(self.datatype),
            set_name=sanitize_param(self.set_name),
            set_value=sanitize_param(self.set_value),
            grouping=sanitize_param(self.grouping),
            datafilter=sanitize_param(self.datafilter),
        )

