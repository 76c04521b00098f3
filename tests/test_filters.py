"""Tests for Robots (P8) and Repeat (P9) filters — including the
first-anchor property that a lag-window approximation would break
(SURVEY §7.3)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from irstats2_spark.operators.filters import repeat_filter, robots_filter


def _events(spark, rows):
    """rows: (epoch, epid, docid, ip)"""
    return spark.createDataFrame(
        [(float(e), i, d, ip) for e, i, d, ip in rows],
        "epoch double, referent_id int, referent_docid int, requester_id string",
    )


def python_repeat_oracle(rows, timeout):
    """Sequential reimplementation of Repeat.pm:63-102 for verification."""
    cache = {}
    kept = []
    for e, epid, docid, ip in sorted(rows, key=lambda r: r[0]):
        key = f"{epid}-{docid if docid is not None else 'X'}-{ip}"
        t = cache.get(key)
        if t is not None and abs(e - t) <= timeout:
            continue
        cache[key] = e
        kept.append((e, epid, docid, ip))
    return sorted(
        kept, key=lambda t: (t[0], t[1], -1 if t[2] is None else t[2], t[3])
    )


def test_repeat_anchor_not_refreshed(spark):
    # e1 kept (anchor), e2 +3000s dropped, e3 +6000s: within timeout of e2
    # but beyond e1's anchor => KEPT (anchor semantics); a lag-window
    # approximation would drop it (gap from e2 is 3000 <= 3600).
    rows = [(0, 1, 10, "a"), (3000, 1, 10, "a"), (6000, 1, 10, "a")]
    df = _events(spark, rows)
    exact = sorted(r.epoch for r in repeat_filter(df, timeout=3600).collect())
    assert exact == [0.0, 6000.0]


def test_repeat_distinct_keys_independent(spark):
    rows = [
        (0, 1, 10, "a"),
        (10, 1, 11, "a"),  # different docid => different key
        (20, 1, None, "a"),  # abstract view => 'X' key
        (30, 2, 10, "a"),  # different eprint
        (40, 1, 10, "b"),  # different ip
    ]
    df = _events(spark, rows)
    assert repeat_filter(df, timeout=3600).count() == 5


def test_repeat_matches_python_oracle_random(spark):
    rng = random.Random(7)
    rows = [
        (
            rng.randint(0, 200_000),
            rng.randint(1, 3),
            rng.choice([None, 1, 2]),
            rng.choice(["a", "b"]),
        )
        for _ in range(400)
    ]
    # de-dup identical epochs per key to keep ordering deterministic
    seen, uniq = set(), []
    for r in rows:
        k = (r[0], r[1], r[2], r[3])
        if k not in seen:
            seen.add(k)
            uniq.append(r)
    df = _events(spark, uniq)
    got = sorted(
        (r.epoch, r.referent_id, r.referent_docid, r.requester_id)
        for r in repeat_filter(df, timeout=3600).collect()
    )
    expected = python_repeat_oracle(uniq, 3600)
    assert got == expected


def test_robots_filter_ua_and_ip(spark):
    df = spark.createDataFrame(
        [
            ("Mozilla/5.0 (real browser)", "1.2.3.4"),
            ("Googlebot/2.1 (+http://www.google.com/bot.html)", "5.6.7.8"),
            ("msnbot/1.0", "9.9.9.9"),
            ("Mozilla/5.0", "180.76.15.99"),  # bad IP prefix
            (None, "2.3.4.5"),
        ],
        "requester_user_agent string, requester_id string",
    )
    out = robots_filter(df, ip_prefixes=["180.76.15"]).collect()
    uas = {r.requester_user_agent for r in out}
    assert uas == {"Mozilla/5.0 (real browser)", None}


def test_robots_default_full_lists(spark):
    """Round 2: the defaults load the full public UA/IP lists shipped in
    operators/data (Robots.pm's default_robots_ua.txt / _ip.txt). 'aria2'
    and the 100.24. IP prefix appear ONLY in the full lists — the minimal
    in-code fallback misses both."""
    from irstats2_spark.operators.filters import (
        MINIMAL_ROBOT_UA_PATTERNS,
        default_ip_prefixes,
        default_ua_patterns,
    )

    assert len(default_ua_patterns()) > 500
    assert len(default_ip_prefixes()) > 300
    df = spark.createDataFrame(
        [
            ("aria2/1.36.0", "8.8.8.8"),
            ("Mozilla/5.0 ok", "100.24.3.4"),
            ("Mozilla/5.0 ok", "8.8.8.8"),
        ],
        "requester_user_agent string, requester_id string",
    )
    kept = robots_filter(df).collect()
    assert [(r.requester_user_agent, r.requester_id) for r in kept] == [
        ("Mozilla/5.0 ok", "8.8.8.8")
    ]
    kept_min = robots_filter(
        df, ua_patterns=MINIMAL_ROBOT_UA_PATTERNS, ip_prefixes=[]
    ).collect()
    assert len(kept_min) == 3


def test_robots_pattern_file(tmp_path, spark):
    f = tmp_path / "ua.txt"
    f.write_text("# comment\n\nbadbot\nevil\\-crawler\n")
    df = spark.createDataFrame(
        [("BadBot/1.0",), ("GoodGuy/2.0",), ("EVIL-CRAWLER v3",)],
        "requester_user_agent string",
    )
    df = df.withColumn("requester_id", F.lit(None).cast("string"))
    out = robots_filter(df, ua_file=str(f)).collect()
    assert [r.requester_user_agent for r in out] == ["GoodGuy/2.0"]


def test_repeat_state_carries_across_arrow_batches(spark):
    """A key's run may span Arrow batches inside a partition; the anchor
    must survive the batch boundary (the mapInPandas scan is a generator
    with cross-batch state)."""
    # one key, 50 events 100s apart: greedy keeps epochs 0, 3700, 7400, ...
    rows = [(100 * i, 1, 10, "a") for i in range(50)]
    df = _events(spark, rows).coalesce(1)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        exact = sorted(r.epoch for r in repeat_filter(df, timeout=3600).collect())
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    expected = [e for e, *_ in python_repeat_oracle(rows, 3600)]
    assert exact == expected == [0.0, 3700.0]


def test_repeat_randomized_vs_oracle_multibatch(spark):
    rnd = random.Random(7)
    rows = []
    for _ in range(400):
        rows.append(
            (
                rnd.randrange(0, 20000),
                rnd.randrange(1, 4),
                rnd.choice([10, 11, None]),
                rnd.choice(["a", "b"]),
            )
        )
    # dedupe identical epochs per key to keep the oracle order-stable
    seen, uniq = set(), []
    for r in rows:
        k = (r[0], r[1], r[2], r[3])
        if k not in seen:
            seen.add(k)
            uniq.append(k)
    df = _events(spark, uniq)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    key = lambda t: (t[0], t[1], -1 if t[2] is None else t[2], t[3])  # noqa: E731
    try:
        got = sorted(
            (
                (r.epoch, r.referent_id, r.referent_docid, r.requester_id)
                for r in repeat_filter(df, timeout=1800).collect()
            ),
            key=key,
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    expected = sorted(python_repeat_oracle(uniq, 1800), key=key)
    assert got == expected


def test_robots_pattern_file_loading(spark, tmp_path):
    """Robots.pm:43-48,73-81: one pattern per line, '#' comments and blank
    lines skipped, embedded whitespace stripped; IP prefixes shorter than
    /32 get a trailing dot before escaping (Robots.pm:103-113)."""
    ua_file = tmp_path / "robots_ua.txt"
    ua_file.write_text("# comment\n\nevilcrawler\nbad bot\n")  # 'badbot' after strip
    ip_file = tmp_path / "robots_ip.txt"
    ip_file.write_text("192.168\n10.1.2.3\n")

    df = spark.createDataFrame(
        [
            ("Mozilla/5.0 EvilCrawler/1.0", "1.2.3.4"),     # UA match (ci)
            ("Mozilla/5.0 badbot/2", "1.2.3.4"),            # stripped pattern
            ("Mozilla/5.0 Chrome/1", "192.168.7.9"),        # IP prefix match
            ("Mozilla/5.0 Chrome/1", "192.16.0.1"),         # NOT 192.16 (dot)
            ("Mozilla/5.0 Chrome/1", "10.1.2.3"),           # exact /32
            ("Mozilla/5.0 Chrome/1", "8.8.8.8"),            # clean
        ],
        "requester_user_agent string, requester_id string",
    )
    kept = robots_filter(
        df, ua_file=str(ua_file), ip_file=str(ip_file)
    ).collect()
    assert sorted(r.requester_id for r in kept) == ["192.16.0.1", "8.8.8.8"]
