"""Expected outputs, computed without Spark.

Facts are recomputed in plain Python from the generator's records (the
structured event behind every line), and request responses are checked
with DuckDB over the gold parquet the program wrote. Each check returns a
list of mismatch descriptions; an empty list means the output is right.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import json
import os
import random
from collections import Counter

import duckdb

from gen import Event, Inputs

REPEAT_TIMEOUT = 3600


def _distinct_events(lines) -> list[Event]:
    """Well-formed events of ``lines`` with exact duplicate lines folded."""
    seen, out = set(), []
    for text, ev in lines:
        if ev is not None and text not in seen:
            seen.add(text)
            out.append(ev)
    return out


def repeat_fold(events: list[Event], timeout: int = REPEAT_TIMEOUT) -> list[Event]:
    """Greedy per-key fold: an event within ``timeout`` seconds of the
    last KEPT event of its (eprint, document, client) key is dropped and
    does not move the anchor."""
    anchor: dict[tuple, int] = {}
    kept = []
    for ev in sorted(events, key=lambda e: e.epoch):
        key = (ev.epid, ev.docid, ev.ip)
        a = anchor.get(key)
        if a is not None and abs(ev.epoch - a) <= timeout:
            continue
        anchor[key] = ev.epoch
        kept.append(ev)
    return kept


def batch_events(inp: Inputs, days: list[int] | None = None) -> list[Event]:
    """The events the batch ETL should count: line dedup, robots out,
    then the repeat fold."""
    days = days if days is not None else inp.day_keys()
    lines = [x for d in days for x in inp.day_lines[d]]
    return repeat_fold([e for e in _distinct_events(lines) if not e.robot])


def stream_events(inp: Inputs, days: list[int]) -> list[Event]:
    """The events the streaming path should count for the landed files
    (each day's log plus the late lines of the day before it): line dedup
    only — that path applies neither the robots nor the repeat filter."""
    lines = []
    for d in days:
        lines += inp.day_lines[d]
        lines += inp.late_lines.get(_prev_day(inp, d), [])
    return _distinct_events(lines)


def _prev_day(inp: Inputs, day: int) -> int | None:
    keys = inp.day_keys()
    i = keys.index(day)
    return keys[i - 1] if i else None


def fact_cells(events: list[Event]) -> dict[str, Counter]:
    """datatype -> Counter{(eprintid, YYYYMMDD): count}."""
    out = {"downloads": Counter(), "views": Counter(), "doc_downloads": Counter()}
    for e in events:
        if e.docid is not None:
            out["downloads"][(e.epid, e.day)] += 1
            out["doc_downloads"][(e.docid, e.day)] += 1
        else:
            out["views"][(e.epid, e.day)] += 1
    return out


def _fact_glob(gold: str, datatype: str) -> str:
    return os.path.join(gold, f"fact_{datatype}", "*", "*.parquet")


def _gold_cells(con, gold: str, datatype: str) -> dict[tuple, int]:
    rows = con.execute(
        "SELECT eprintid, datestamp, SUM(count) FROM read_parquet(?, hive_partitioning=1) "
        "GROUP BY ALL",
        [_fact_glob(gold, datatype)],
    ).fetchall()
    return {(int(e), int(d)): int(c) for e, d, c in rows}


def check_batch_gold(inp: Inputs, gold: str, rng: random.Random, samples: int = 40) -> list[str]:
    """Per-datatype totals and sampled (eprintid, datestamp) cells of the
    batch ETL's gold facts against the recomputation."""
    exp = fact_cells(batch_events(inp))
    bad = []
    with duckdb.connect() as con:
        for dt_name, cells in exp.items():
            got = _gold_cells(con, gold, dt_name)
            if sum(got.values()) != sum(cells.values()):
                bad.append(f"{dt_name} total {sum(got.values())} != {sum(cells.values())}")
            keys = sorted(cells)
            for k in rng.sample(keys, min(samples, len(keys))):
                if got.get(k, 0) != cells[k]:
                    bad.append(f"{dt_name}{k} {got.get(k, 0)} != {cells[k]}")
        n_kept = sum(sum(c.values()) for n, c in exp.items() if n != "doc_downloads")
        got_browsers = con.execute(
            "SELECT SUM(count) FROM read_parquet(?, hive_partitioning=1)",
            [_fact_glob(gold, "browsers")],
        ).fetchone()[0]
        if int(got_browsers or 0) != n_kept:
            bad.append(f"browsers total {got_browsers} != {n_kept}")
        statuses = Counter(e["eprint_status"] for e in inp.eprints)
        got_dep = dict(
            con.execute(
                "SELECT value, SUM(count) FROM read_parquet(?, hive_partitioning=1) GROUP BY 1",
                [_fact_glob(gold, "deposits")],
            ).fetchall()
        )
        if {k: int(v) for k, v in got_dep.items()} != dict(statuses):
            bad.append(f"deposits {got_dep} != {dict(statuses)}")
    return bad


def check_stream_gold(inp: Inputs, out_root: str, days: list[int]) -> list[str]:
    """Every downloads/views cell the stream wrote for the landed days."""
    exp = fact_cells(stream_events(inp, days))
    bad = []
    with duckdb.connect() as con:
        for dt_name in ("downloads", "views"):
            got = _gold_cells(con, out_root, dt_name)
            want = {k: v for k, v in exp[dt_name].items()}
            if got != want:
                diff = set(got.items()) ^ set(want.items())
                bad.append(f"stream {dt_name}: {len(diff)} cells differ, e.g. {sorted(diff)[:3]}")
    return bad


# -- report responses ---------------------------------------------------------


class GoldOracle:
    """DuckDB views over gold facts and dimensions, for response checks.
    ``today`` is the date the requests were served as of."""

    def __init__(self, fact_root: str, dim_root: str, datatypes: list[str], today: dt.date):
        self.today = today
        self.con = duckdb.connect()
        for dt_name in datatypes:
            self.con.execute(
                f"CREATE VIEW f_{dt_name} AS SELECT eprintid, CAST(datestamp AS INTEGER) AS datestamp, "
                f"value, count FROM read_parquet('{_fact_glob(fact_root, dt_name)}', hive_partitioning=1)"
            )
        for dim in ("sets", "groupings"):
            self.con.execute(
                f"CREATE VIEW d_{dim} AS SELECT * FROM "
                f"read_parquet('{os.path.join(dim_root, 'dim_' + dim, '*.parquet')}')"
            )

    def close(self) -> None:
        self.con.close()

    def _rows(self, sql: str, params=()):
        return self.con.execute(sql, list(params)).fetchall()

    def _scope(self, req) -> tuple[str, list]:
        """SQL predicate over fact alias f selecting the request's
        eprint or set members."""
        if req.set_name == "eprint":
            return "f.eprintid = ?", [int(req.set_value)]
        if req.set_name:
            return (
                "f.eprintid IN (SELECT eprintid FROM d_sets WHERE set_name = ? AND set_value = ?)",
                [req.set_name, req.set_value],
            )
        return "TRUE", []

    def daily(self, req, lo: int | None = None, hi: int | None = None) -> dict[int, int]:
        where, params = self._scope(req)
        if lo is not None:
            where += " AND f.datestamp BETWEEN ? AND ?"
            params += [lo, hi]
        rows = self._rows(
            f"SELECT f.datestamp, SUM(f.count) FROM f_{req.datatype} f WHERE {where} GROUP BY 1",
            params,
        )
        return {int(d): int(c) for d, c in rows}

    def check(self, req, body: str) -> list[str]:
        kind = req.kind
        if kind == "export_csv":
            rows = list(csv.reader(io.StringIO(body)))
            got = [{"datestamp": int(d.strip('="')), "count": int(c.strip('="'))} for d, c in rows[1:]]
            return _series_check(self.daily(req), got, kind)
        got_rows = json.loads(body)
        if kind == "export_json":
            return _series_check(self.daily(req), got_rows["records"], kind)
        if kind in ("graph_month", "browse"):
            # the months from the first to the last day with data, zero-filled
            daily = self.daily(req)
            want = {d // 100: 0 for d in _days(min(daily), max(daily))} if daily else {}
            for d, c in daily.items():
                want[d // 100] += c
            return _series_check(want, got_rows, kind)
        if kind == "graph_days":
            lo, hi = int(req.params["from"]), int(req.params["to"])
            return _series_check(_dense(self.daily(req, lo, hi), lo, hi), got_rows, kind)
        if kind == "spark":
            # the six months up to yesterday, day by day, leading zero days
            # trimmed, newest first
            hi = self.today - dt.timedelta(days=1)
            lo_i, hi_i = _int(_months_before(hi, 6)), _int(hi)
            want = _dense(self.daily(req, lo_i, hi_i), lo_i, hi_i)
            first = min((d for d, c in want.items() if c), default=hi_i + 1)
            want = {d: c for d, c in want.items() if d >= first}
            bad = _series_check(want, got_rows, kind)
            order = [r["datestamp"] for r in got_rows]
            return bad if order == sorted(order, reverse=True) else bad + ["spark: not newest first"]
        if kind == "counter":
            where, params = self._scope(req)
            want = self._rows(
                f"SELECT COALESCE(SUM(f.count), 0) FROM f_{req.datatype} f WHERE {where}", params
            )[0][0]
            got = got_rows[0]["count"]
            return [] if int(got) == int(want) else [f"counter {got} != {want}"]
        if kind == "table_eprint":
            where, params = self._scope(req)
            want = self._rows(
                f"SELECT f.eprintid, SUM(f.count) AS c FROM f_{req.datatype} f WHERE {where} "
                "GROUP BY 1 ORDER BY c DESC, 1 ASC LIMIT 10",
                params,
            )
            got = [(r["eprintid"], r["count"]) for r in got_rows]
            return [] if got == [tuple(map(int, w)) for w in want] else [f"table_eprint {got[:3]} != {want[:3]}"]
        if kind == "table_value":
            want = self._rows(
                f"SELECT value, SUM(count) AS c FROM f_{req.datatype} GROUP BY 1 "
                f"ORDER BY c DESC, 1 ASC LIMIT {int(req.params.get('limit', 10))}"
            )
            got = [(r["value"], r["count"]) for r in got_rows]
            return [] if got == [(v, int(c)) for v, c in want] else [f"table_value {got[:3]} != {want[:3]}"]
        if kind == "table_grouping":
            want = self._rows(
                f"SELECT g.grouping_value, SUM(f.count) AS c FROM f_{req.datatype} f JOIN "
                "(SELECT DISTINCT eprintid, grouping_value FROM d_groupings WHERE set_name = ? "
                "AND grouping_name = ? AND set_value = ?) g USING (eprintid) "
                "GROUP BY 1 ORDER BY c DESC, 1 ASC LIMIT 10",
                [req.set_name, req.params["top"], req.set_value],
            )
            got = [(r["grouping_value"], r["count"]) for r in got_rows]
            return [] if got == [(v, int(c)) for v, c in want] else [f"table_grouping {got[:3]} != {want[:3]}"]
        if kind == "fp_stats":
            total = self._rows("SELECT COALESCE(SUM(count), 0) FROM f_downloads")[0][0]
            want_all = f"{int(total):,}"
            bad = []
            if got_rows["full_text_downloads_all"] != want_all:
                bad.append(f"fp_stats all {got_rows['full_text_downloads_all']} != {want_all}")
            if got_rows["full_texts_all"] != req.expect:
                bad.append(f"fp_stats full texts {got_rows['full_texts_all']} != {req.expect}")
            return bad
        return [f"no check for request kind {kind}"]


def _int(d: dt.date) -> int:
    return d.year * 10000 + d.month * 100 + d.day


def _days(lo: int, hi: int) -> list[int]:
    """Every day from ``lo`` to ``hi`` (YYYYMMDD), both included."""
    d, end = dt.date(lo // 10000, lo // 100 % 100, lo % 100), dt.date(hi // 10000, hi // 100 % 100, hi % 100)
    out = []
    while d <= end:
        out.append(_int(d))
        d += dt.timedelta(days=1)
    return out


def _dense(daily: dict[int, int], lo: int, hi: int) -> dict[int, int]:
    return {d: daily.get(d, 0) for d in _days(lo, hi)}


def _months_before(d: dt.date, months: int) -> dt.date:
    """The same day ``months`` calendar months earlier, clamped to the
    end of a shorter month."""
    y, m = divmod(d.year * 12 + d.month - 1 - months, 12)
    m += 1
    last = (dt.date(y + m // 12, m % 12 + 1, 1) - dt.timedelta(days=1)).day
    return dt.date(y, m, min(d.day, last))


def _series_check(want: dict[int, int], got_rows: list[dict], kind: str) -> list[str]:
    """The response's (datestamp, count) rows must hold exactly the
    expected keys, each once, with the expected counts."""
    got = {r["datestamp"]: r["count"] for r in got_rows}
    if got == want and len(got) == len(got_rows):
        return []
    diff = sorted(set(got.items()) ^ set(want.items()))
    return [f"{kind}: {len(got_rows)} rows for {len(want)} expected buckets, differing in {diff[:3]}"]
