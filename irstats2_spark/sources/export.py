"""Export sinks (SURVEY §2.1 S9): CSV / JSON / XML serializations of query
results, matching the reference's formats
(plugins/EPrints/Plugin/Stats/Export/{CSV,JSON,XML}.pm).

These are presentation-layer: they format an already collected result,
``(columns, rows)`` with one tuple per row, on the driver. By the time a
result reaches an exporter it is Context-compiled output (top-N /
series), thousands of rows at most.
"""

from __future__ import annotations

import json
from xml.sax.saxutils import escape


def records(columns: list[str], rows: list[tuple]) -> list[dict]:
    """Rows as ``{column: value}`` dicts, the JSON shape of a result."""
    return [dict(zip(columns, r)) for r in rows]


def to_csv(columns: list[str], rows: list[tuple]) -> str:
    """Export/CSV.pm:13-73: quoted fields, control chars stripped; numbers
    wrapped as ="123" so Excel keeps long ids verbatim."""
    out = [",".join(columns)]
    for r in rows:
        cells = []
        for v in r:
            if v is None:
                cells.append("")
            elif isinstance(v, (int, float)):
                cells.append(f'="{v}"')
            else:
                s = str(v).replace('"', "").replace("\r", " ").replace("\n", " ")
                cells.append(f'"{s}"')
        out.append(",".join(cells))
    return "\n".join(out) + "\n"


def to_json(
    columns: list[str],
    rows: list[tuple],
    origin: dict | None = None,
    set_info: dict | None = None,
    timescale: str | None = None,
) -> str:
    """Export/JSON.pm:13-92 envelope:
    {origin, set, timescale, records: [...]}."""
    doc = {
        "origin": origin or {},
        "set": set_info or {},
        "timescale": timescale or "",
        "records": records(columns, rows),
    }
    return json.dumps(doc, default=str)


def to_xml(columns: list[str], rows: list[tuple]) -> str:
    """Export/XML.pm:12-109: <statistics><records><record><k>v</k>..."""
    parts = ["<?xml version='1.0' encoding='UTF-8'?>", "<statistics><records>"]
    for r in rows:
        parts.append("<record>")
        for k, v in zip(columns, r):
            parts.append(f"<{k}>{escape('' if v is None else str(v))}</{k}>")
        parts.append("</record>")
    parts.append("</records></statistics>")
    return "".join(parts)
