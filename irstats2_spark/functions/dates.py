"""Date normalization + range arithmetic (SURVEY §2.5 T3, §2.8 F13).

Pure driver-side Python mirroring Utils.pm:217-331 / Context.pm:499-540:
these run once per query during Context compilation, never per row.

Key reference behaviors kept:
- accepted inputs YYYYMMDD / YYYY-MM-DD / YYYY/MM/DD / YYYYMM / YYYY;
  partial 'to' dates clamp to month/year end (leap-aware);
- ``range`` beats from/to; ``_ALL_`` => no bounds; '2012' => that year;
  '<n>[dmy]' => calendar offset back from `to` (default: yesterday);
  'y' offsets clamped to 20 years;
- month-end clamping on month arithmetic (Date::Calc::Add_Delta_YMD
  semantics: subtracting months from Mar 31 lands on the shorter month's
  last day... actually Add_Delta_YMD normalizes overflow forward; we
  reproduce with dateutil-free pure-python calendar math).
"""

from __future__ import annotations

import calendar
import datetime as dt
import re

YYYYMMDD = int


def parse_date_int(s: str | int | None, is_to: bool = False) -> YYYYMMDD | None:
    """F13 (Utils.pm:241-281): normalize date strings to int YYYYMMDD."""
    if s is None:
        return None
    s = str(s)
    m = re.match(r"^(\d{4})[/-]?(\d{2})[/-]?(\d{2})$", s)
    if m:
        return int(m.group(1) + m.group(2) + m.group(3))
    m = re.match(r"^(\d{4})[/-]?(\d{2})$", s)
    if m:
        y, mo = int(m.group(1)), int(m.group(2))
        day = calendar.monthrange(y, mo)[1] if is_to else 1
        return y * 10000 + mo * 100 + day
    m = re.match(r"^(\d{4})$", s)
    if m:
        y = int(m.group(1))
        return y * 10000 + (1231 if is_to else 101)
    return None


def int_to_date(d: YYYYMMDD) -> dt.date:
    return dt.date(d // 10000, (d // 100) % 100, d % 100)


def date_to_int(d: dt.date) -> YYYYMMDD:
    return d.year * 10000 + d.month * 100 + d.day


def _add_delta_ymd(d: dt.date, dy: int, dm: int, dd: int) -> dt.date:
    """Date::Calc::Add_Delta_YMD semantics: add years+months first with
    day overflow normalized forward, then add days."""
    y = d.year + dy
    m = d.month + dm
    # normalize month into 1..12
    y += (m - 1) // 12
    m = (m - 1) % 12 + 1
    day = d.day
    # Date::Calc normalizes day overflow by rolling into the next month
    days_in = calendar.monthrange(y, m)[1]
    base = dt.date(y, m, min(day, days_in))
    overflow = day - min(day, days_in)
    return base + dt.timedelta(days=dd + overflow)


def range_to_offset(range_str: str) -> tuple[int, int, int]:
    """T3 (Utils.pm:217-238): '<n>[dmy]' -> (dy, dm, dd); y clamped to 20."""
    m = re.match(r"^(\d+)([dmy])$", range_str or "")
    if not m:
        return (0, 0, 0)
    n, unit = int(m.group(1)), m.group(2)
    if unit == "d":
        return (0, 0, -n)
    if unit == "m":
        return (0, -n, 0)
    return (-min(n, 20), 0, 0)


def normalise_dates(
    range_str: str | None,
    from_s: str | int | None,
    to_s: str | int | None,
    today: dt.date | None = None,
) -> tuple[YYYYMMDD | None, YYYYMMDD | None]:
    """T3 (Utils.pm:241-331): resolve (range, from, to) to int bounds.
    Returns (None, None) for '_ALL_'.
    """
    today = today or dt.date.today()
    from_i = parse_date_int(from_s, is_to=False)
    to_i = parse_date_int(to_s, is_to=True)

    if range_str:
        if range_str == "_ALL_":
            return (None, None)
        m = re.match(r"^(\d{4})$", range_str)
        if m:
            y = m.group(1)
            return (int(y + "0101"), int(y + "1231"))
        if to_i is None:
            to_d = today - dt.timedelta(days=1)  # default to = yesterday
        else:
            to_d = int_to_date(to_i)
        dy, dm, dd = range_to_offset(range_str)
        from_d = _add_delta_ymd(to_d, dy, dm, dd)
        return (date_to_int(from_d), date_to_int(to_d))

    if from_i is not None and to_i is None:
        to_i = date_to_int(today - dt.timedelta(days=1))
    return (from_i, to_i)


def get_dates(
    from_i: YYYYMMDD | None,
    to_i: YYYYMMDD | None,
    today: dt.date | None = None,
) -> list[int]:
    """T2 support (Utils.pm:135-215): the complete YYYYMMDD day key
    sequence for densification; coarser buckets are ``day // 100``
    (YYYYMM) and ``day // 10000`` (YYYY)."""
    if from_i is None:
        return []
    today = today or dt.date.today()
    if to_i is None:
        to_i = date_to_int(today - dt.timedelta(days=1))
    if from_i > to_i:
        return []
    d = int_to_date(from_i)
    end = int_to_date(to_i)
    out = []
    while d <= end:
        out.append(date_to_int(d))
        d += dt.timedelta(days=1)
    return out
