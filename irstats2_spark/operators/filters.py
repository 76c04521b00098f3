"""ETL record filters: Robots (P8) and Repeat/double-click (P9).

P8 (Filter/Robots.pm:13-150): drop a record when lowercased UA matches an
alternation of UA regex fragments, or the IP matches an alternation of
escaped prefixes (unanchored =~, like the reference). Pattern lists load
from files (one pattern per line, '#' comments, same format as the
reference's robots_ua.txt / robots_ip.txt) or fall back to a small
built-in list. The compiled alternation is a single rlike => one
codegen'd regex per row, no Python, no shuffle.

P9 (Filter/Repeat.pm:63-102): order-dependent stateful dedup. The anchor
is the time of the last KEPT event per key `epid-docid-ip` (downloads) /
`epid-X-ip` (views): an event within `timeout` seconds of the anchor is
dropped and does NOT refresh the anchor. A sliding `lag()` window is NOT
equivalent (it would refresh on dropped events) — the exact operator is a
per-key sequential fold via applyInPandas. Keys contain the client IP, so
group cardinality is huge and groups are tiny: the grouped shuffle is
balanced by construction, and state never leaves one partition.
"""

from __future__ import annotations

import functools
import os

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Default robot lists: the full public UA/IP pattern files shipped with the
# reference (Filter/default_robots_ua.txt, ~825 fragments, and
# default_robots_ip.txt, ~610 prefixes) live in operators/data/ and load
# lazily below. MINIMAL_ROBOT_UA_PATTERNS is the in-code fallback if the
# data files are missing from an installation.
_DATA_DIR = os.path.join(os.path.dirname(__file__), "data")
DEFAULT_ROBOT_UA_FILE = os.path.join(_DATA_DIR, "default_robots_ua.txt")
DEFAULT_ROBOT_IP_FILE = os.path.join(_DATA_DIR, "default_robots_ip.txt")

MINIMAL_ROBOT_UA_PATTERNS = [
    "googlebot", "msnbot", "bingbot", "slurp", "crawler", "spider",
    "curl", "wget", "httrack", "libwww", "python-requests", "scrapy",
    "yandexbot", "baiduspider", "duckduckbot", "archive\\.org_bot",
    "semrushbot", "ahrefsbot", "mj12bot", "dotbot", "petalbot", "bot/",
    "robot", "nutch", "heritrix",
]


@functools.lru_cache(maxsize=None)
def default_ua_patterns() -> tuple[str, ...]:
    if os.path.exists(DEFAULT_ROBOT_UA_FILE):
        return tuple(load_pattern_file(DEFAULT_ROBOT_UA_FILE))
    return tuple(MINIMAL_ROBOT_UA_PATTERNS)


@functools.lru_cache(maxsize=None)
def default_ip_prefixes() -> tuple[str, ...]:
    if os.path.exists(DEFAULT_ROBOT_IP_FILE):
        return tuple(load_pattern_file(DEFAULT_ROBOT_IP_FILE))
    return ()


def load_pattern_file(path: str) -> list[str]:
    """One pattern per line; blank lines and '#' comments skipped;
    whitespace stripped (Robots.pm:43-48,73-81)."""
    out = []
    with open(path) as fh:
        for line in fh:
            line = "".join(line.split())
            if not line or line.startswith("#"):
                continue
            out.append(line)
    return out


def _ip_prefix_regex(prefixes: list[str]) -> str | None:
    """Robots.pm:103-113: append '.' to sub-/24 prefixes, escape dots."""
    pats = []
    for p in prefixes:
        if not p:
            continue
        if p.count(".") < 3 and not p.endswith("."):
            p += "."
        pats.append(p.replace(".", "\\."))
    return "|".join(pats) or None


def robots_filter(
    df: DataFrame,
    ua_col: str = "requester_user_agent",
    ip_col: str = "requester_id",
    ua_patterns: list[str] | None = None,
    ip_prefixes: list[str] | None = None,
    ua_file: str | None = None,
    ip_file: str | None = None,
    distinct_prefilter: bool = False,
) -> DataFrame:
    """P8: return only non-robot rows.

    Two physical strategies with identical output:

    - default: one compiled rlike alternation per row — zero shuffle,
      fuses into the scan. Per-row cost is O(|patterns|) regex work,
      which the full ~826-fragment default list makes the dominant CPU
      of an ETL pass.
    - ``distinct_prefilter=True``: classify the DISTINCT UA and IP value
      sets (map-side partial agg makes those shuffles tiny — real
      traffic has ~10^4-10^6 distinct UAs/IPs against 10^9+ rows), then
      drop robot rows with two broadcast anti-joins. The regex runs once
      per distinct value instead of once per row — the same
      dedup-before-regex shape as functions.text.search_term_counts.

    Measured on this engine the compiled alternation costs ~0.3us/row,
    so the per-row form stays the default at every scale where the regex
    is not the measured bottleneck; reach for the prefilter when the
    pattern list grows past the shipped ~826 fragments or per-row regex
    time shows up in the stage profile (both strategies are
    output-identical, parity-tested)."""
    ua_patterns = list(ua_patterns if ua_patterns is not None else default_ua_patterns())
    ip_prefixes = list(ip_prefixes if ip_prefixes is not None else default_ip_prefixes())
    if ua_file and os.path.exists(ua_file):
        ua_patterns = load_pattern_file(ua_file)
    if ip_file and os.path.exists(ip_file):
        ip_prefixes = load_pattern_file(ip_file)

    ua_re = "|".join(ua_patterns) if ua_patterns else None
    ip_re = _ip_prefix_regex(ip_prefixes)

    if distinct_prefilter:
        # NULL values never classify as robot (isNotNull in the per-row
        # form); an equality anti-join never matches NULL either, so the
        # two strategies keep exactly the same rows.
        orig_cols = df.columns  # USING-joins move the key column first
        if ua_re:
            robot_uas = (
                df.select(ua_col).distinct()
                .filter(F.lower(F.col(ua_col)).rlike(ua_re))
            )
            df = df.join(F.broadcast(robot_uas), ua_col, "left_anti")
        if ip_re:
            robot_ips = (
                df.select(ip_col).distinct()
                .filter(F.col(ip_col).rlike(ip_re))
            )
            df = df.join(F.broadcast(robot_ips), ip_col, "left_anti")
        return df.select(*orig_cols)

    keep = F.lit(True)
    if ua_re:
        keep = keep & ~(
            F.col(ua_col).isNotNull() & F.lower(F.col(ua_col)).rlike(ua_re)
        )
    if ip_re:
        keep = keep & ~(
            F.col(ip_col).isNotNull() & F.col(ip_col).rlike(ip_re)
        )
    return df.filter(keep)


def repeat_key(epid_col, docid_col, ip_col):
    """The reference's dedup key (Repeat.pm:77-87)."""
    return F.concat_ws(
        "-",
        epid_col.cast("string"),
        F.coalesce(docid_col.cast("string"), F.lit("X")),
        ip_col,
    )


def repeat_filter(
    df: DataFrame,
    epoch_col: str = "epoch",
    key_cols: tuple[str, str, str] = ("referent_id", "referent_docid", "requester_id"),
    timeout: int = 3600,
) -> DataFrame:
    """P9 exact semantics: per-key sequential fold.

    Requires an integer/float seconds column ``epoch_col``. Events are
    processed in epoch order per key, matching the reference's file-order
    scan of time-sorted logs.

    Scale design: ONE hash-shuffle on the dedup key, then a sort within
    each partition and a single sequential pass via ``mapInPandas`` —
    anchor state is carried across Arrow batches inside a partition, so a
    key's run never needs to fit in one batch. Per-key state never leaves
    a partition, keys are high-cardinality (they embed the client IP), and
    Python sees each row exactly once: this is the same shuffle count as
    the lag()-window approximation, with exact reference semantics.
    """
    epid, docid, ip = key_cols
    keyed = df.withColumn("__rk", repeat_key(F.col(epid), F.col(docid), F.col(ip)))
    schema = keyed.schema
    n_out = len(schema) - 1  # __rk dropped on output

    parts = max(
        df.sparkSession.sparkContext.defaultParallelism,
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")),
    )
    arranged = keyed.repartition(parts, "__rk").sortWithinPartitions(
        "__rk", epoch_col
    )

    def scan(batches):
        # one partition = many whole keys, (key, epoch)-sorted; a key may
        # span batches, so (last key, anchor) persists across iterations
        prev_key, anchor = None, None
        for pdf in batches:
            keys = pdf["__rk"].to_numpy()
            times = pdf[epoch_col].to_numpy()
            keep = [False] * len(pdf)
            for i in range(len(pdf)):
                if keys[i] != prev_key:
                    prev_key, anchor = keys[i], None
                t = times[i]
                if anchor is not None and abs(t - anchor) <= timeout:
                    continue  # dropped; anchor NOT refreshed
                keep[i] = True
                anchor = t
            out = pdf.iloc[:, :n_out]
            yield out[pd.Series(keep, index=pdf.index)]

    kept_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields[:-1]
    )
    return arranged.mapInPandas(scan, schema=kept_schema)


def repeat_filter_window_approx(
    df: DataFrame,
    epoch_col: str = "epoch",
    key_cols: tuple[str, str, str] = ("referent_id", "referent_docid", "requester_id"),
    timeout: int = 3600,
) -> DataFrame:
    """Documented approximation: keep rows whose gap from the PREVIOUS
    event (kept or not) exceeds timeout. Cheaper (pure window, no Python)
    but refreshes the anchor on dropped events — counts can be lower than
    the exact operator on long click-bursts. Streaming equivalent:
    dropDuplicatesWithinWatermark on the key.
    """
    from pyspark.sql import Window

    epid, docid, ip = key_cols
    keyed = df.withColumn("__rk", repeat_key(F.col(epid), F.col(docid), F.col(ip)))
    w = Window.partitionBy("__rk").orderBy(epoch_col)
    prev = F.lag(F.col(epoch_col)).over(w)
    return (
        keyed.withColumn("__gap", F.col(epoch_col) - prev)
        .filter(F.col("__gap").isNull() | (F.col("__gap") > timeout))
        .drop("__rk", "__gap")
    )


def find_robots_ip_duplicates(
    local_prefixes: list[str],
    shipped_prefixes: tuple[str, ...] | None = None,
) -> list[tuple[str, str]]:
    """Ops-maintenance check (bin/stats/find_local_robots_ip_duplicates:
    32-48): which locally-configured robot IP prefixes are ALREADY
    covered by the shipped list, via the same three probes — the /16
    ("a.b."), the /24 ("a.b.c.") and the exact entry. Returns
    (local_prefix, shipped_prefix_it_matches) pairs; an empty list
    means the local config adds only new coverage.

    Driver-side by design: both lists are config files (hundreds of
    lines), not data."""
    shipped = set(
        shipped_prefixes if shipped_prefixes is not None else default_ip_prefixes()
    )
    out: list[tuple[str, str]] = []
    for ip in local_prefixes:
        bits = ip.split(".")
        class_b = f"{bits[0]}.{bits[1]}." if len(bits) >= 2 else None
        class_c = f"{bits[0]}.{bits[1]}.{bits[2]}." if len(bits) >= 3 else None
        if class_b and class_b in shipped:
            out.append((ip, class_b))
        elif class_c and class_c in shipped:
            out.append((ip, class_c))
        elif len(bits) >= 4 and ip in shipped:
            out.append((ip, ip))
    return out
