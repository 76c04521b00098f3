"""Unit tests for the scalar function library — Perl-parity corner cases
(SURVEY §7.3 'risk areas')."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from irstats2_spark.functions.classify import classify_browser, classify_referrer
from irstats2_spark.functions.dates import (
    get_dates,
    normalise_dates,
    parse_date_int,
    _add_delta_ymd,
)
from irstats2_spark.functions.names import name_case, normalise_name
from irstats2_spark.functions.text import normalize_word
from irstats2_spark.functions.urls import get_param, url_hostname, url_protocol, url_uri

import datetime as dt


def _eval(spark, col):
    return spark.range(1).select(col.alias("v")).head().v


def _eval_many(spark, inputs, fn):
    df = spark.createDataFrame([(i,) for i in inputs], ["s"])
    return [r.v for r in df.select(fn(F.col("s")).alias("v")).collect()]


# -- F1 parse_url (Utils.pm:489-509) ----------------------------------------

@pytest.mark.parametrize(
    "url,proto,host,uri",
    [
        ("http://www.google.com/search?q=a", "http", "www.google.com", "/search?q=a"),
        ("12345", "http", "localhost", "/12345"),  # bare number special case
        ("www.example.org/x", "http", "www.example.org", "/x"),  # no protocol
        ("info:oai:repo.org:123", "info:oai", "repo.org", "123"),  # greedy protocol
        ("https://host.com:8080/path", "https", "host.com", "8080/path"),
    ],
)
def test_parse_url(spark, url, proto, host, uri):
    got = spark.createDataFrame([(url,)], ["s"]).select(
        url_protocol(F.col("s")).alias("p"),
        url_hostname(F.col("s")).alias("h"),
        url_uri(F.col("s")).alias("u"),
    ).head()
    assert (got.p, got.h, got.u) == (proto, host, uri)


# -- F3 get_param: value stops at & or '.' (Utils.pm:511-522) ---------------

@pytest.mark.parametrize(
    "uri,param,expected",
    [
        ("/search?q=hello+world&x=1", "q", "hello+world"),
        ("/search?q=ab.cd", "q", "ab"),  # the dot-stop quirk
        ("/search?p=term", "q", None),
        ("/search?q=", "q", ""),
    ],
)
def test_get_param(spark, uri, param, expected):
    assert _eval(spark, get_param(F.lit(uri), param)) == expected


# -- F5 browser classification: sorted-signature order (Browsers.pm:56) -----

@pytest.mark.parametrize(
    "ua,expected",
    [
        # Chrome UAs contain Safari/ too — sort order puts Chrome/ first
        ("Mozilla/5.0 AppleWebKit/537.36 Chrome/99.0 Safari/537.36", "Google Chrome"),
        ("Mozilla/5.0 AppleWebKit/605.1 Version/16 Safari/605.1", "Apple Safari"),
        # Android UAs also contain Chrome/ and Safari/ — '; Android ' sorts first
        ("Mozilla/5.0 (Linux; Android 13; Pixel) Chrome/99 Safari/537", "Android"),
        ("Mozilla/4.0 (compatible; MSIE 8.0; Windows NT 6.1)", "Microsoft Internet Explorer"),
        ("Mozilla/5.0 (X11; Linux) Gecko Firefox/115.0", "Firefox"),
        ("Opera/9.80 (Windows NT 6.1)", "Opera"),
        ("Mozilla/5.0 (BlackBerry; U; BlackBerry 9900)", "BlackBerry"),
        ("SomethingElse/1.0", "Other"),
        ("Mozilla/5.0 (compatible; AOL 9.0; Windows)", "AOL"),
        ("Mozilla/5.0 (compatible AOL 9.0)", "Other"),  # no '; AOL'
    ],
)
def test_classify_browser(spark, ua, expected):
    assert _eval(spark, classify_browser(F.lit(ua))) == expected


# -- F4 referrer classification (Referrer.pm:61-116) ------------------------

@pytest.mark.parametrize(
    "ref,expected",
    [
        ("42", "Internal (Abstract page)"),  # bare eprintid => localhost
        # greedy protocol: needs a dot in the identifier tail to terminate
        # at 'info:oai' (same behavior as the reference's parse_url regex)
        ("info:oai:repo.org:123", "Internal (OAI-PMH)"),
        ("http://myrepo.org/123", "Internal (Abstract page)"),
        ("http://myrepo.org/cgi/search/simple?q=x", "Internal (Search)"),
        ("http://myrepo.org/view/divisions/", "Internal (Browse view)"),
        ("http://myrepo.org/cgi/latest", "Internal (Latest Additions)"),
        ("http://myrepo.org/profile/1", "Internal (MePrints Profile Page)"),
        ("http://myrepo.org/other", "Internal"),
        ("http://www.google.co.uk/search?q=x", "Google"),
        ("http://search.yahoo.com/?p=x", "Yahoo"),
        ("http://www.bing.com/search?q=x", "MSN/Bing"),
        ("http://m.facebook.com/x", "Facebook"),
        ("http://example.org/page", "example.org"),  # unknown => hostname
    ],
)
def test_classify_referrer(spark, ref, expected):
    got = _eval(spark, classify_referrer(F.lit(ref), host="myrepo.org"))
    assert got == expected


# -- F6 normalize_word (SearchTerms.pm:174-198) -----------------------------

@pytest.mark.parametrize(
    "word,expected",
    [
        ("Hello", "hello"),
        ('"quoted"', "quoted"),
        ("the", None),  # stopword
        ("a", None),  # too short
        ("x", None),
        ("term&amp;junk", "term"),  # cut at first &
        ("  spaced  ", "spaced"),
        ("don't", "dont"),
    ],
)
def test_normalize_word(spark, word, expected):
    assert _eval(spark, normalize_word(F.lit(word))) == expected


# -- F8 name casing (Sets.pm:487-577) ---------------------------------------

@pytest.mark.parametrize(
    "raw,expected",
    [
        ("mcdonald", "McDonald"),
        ("MACHADO", "Machado"),  # Mac exception list
        ("macintosh", "Macintosh"),  # ends in 'h'... MacKintosh exception
        ("van der berg", "van der Berg"),
        ("o'brien", "O'Brien"),
        ("smith's", "Smith's"),  # possessive 's lowered by the '\w rule
        ("henry viii", "Henry VIII"),
        ("de la cruz", "de la Cruz"),
    ],
)
def test_name_case(raw, expected):
    assert name_case(raw) == expected


def test_normalise_name():
    assert normalise_name("SMITH", "JOHN") == "Smith, John"
    assert normalise_name("smith", None) == "Smith"
    assert normalise_name(None, None) is None


# -- T3 date normalization (Utils.pm:217-331) -------------------------------

TODAY = dt.date(2026, 8, 13)


def test_parse_date_int():
    assert parse_date_int("20240131") == 20240131
    assert parse_date_int("2024-01-31") == 20240131
    assert parse_date_int("2024/01/31") == 20240131
    assert parse_date_int("202402", is_to=True) == 20240229  # leap clamp
    assert parse_date_int("202402") == 20240201
    assert parse_date_int("2024", is_to=True) == 20241231
    assert parse_date_int("2024") == 20240101
    assert parse_date_int("garbage") is None


def test_normalise_dates_range_priority():
    # range beats from/to
    assert normalise_dates("2023", "20200101", "20200202", today=TODAY) == (
        20230101,
        20231231,
    )
    assert normalise_dates("_ALL_", "20200101", None, today=TODAY) == (None, None)


def test_normalise_dates_offsets():
    # 1m back from default yesterday (2026-08-12)
    assert normalise_dates("1m", None, None, today=TODAY) == (20260712, 20260812)
    assert normalise_dates("7d", None, None, today=TODAY) == (20260805, 20260812)
    # y clamped to 20
    assert normalise_dates("99y", None, None, today=TODAY) == (20060812, 20260812)
    # explicit to
    assert normalise_dates("1m", None, "20240331", today=TODAY) == (20240302, 20240331)
    # Add_Delta_YMD rollover: 2024-03-31 minus 1 month => Feb 31 => Mar 2 (leap)


def test_normalise_dates_from_only():
    assert normalise_dates(None, "20260801", None, today=TODAY) == (20260801, 20260812)


def test_add_delta_ymd_rollover():
    assert _add_delta_ymd(dt.date(2024, 3, 31), 0, -1, 0) == dt.date(2024, 3, 2)
    assert _add_delta_ymd(dt.date(2023, 3, 31), 0, -1, 0) == dt.date(2023, 3, 3)


def test_get_dates():
    assert get_dates(20240228, 20240302) == [
        20240228, 20240229, 20240301, 20240302,
    ]
    assert get_dates(20240301, 20240201) == []  # from > to guard


# ---------------------------------------------------------------------------
# Property tests (hypothesis) for the T3 date arithmetic — the reference's
# calendar quirks (month-end clamping, yesterday default, 20y clamp) are
# easy to break subtly; pin them against an independent formulation.
# ---------------------------------------------------------------------------
import datetime as _dt

from hypothesis import given, settings
from hypothesis import strategies as st

from irstats2_spark.functions.dates import (
    _add_delta_ymd,
    get_dates,
    int_to_date,
    normalise_dates,
)

_days = st.dates(min_value=_dt.date(1995, 1, 7), max_value=_dt.date(2090, 12, 25))


def _date_calc_add_months(base: _dt.date, dm: int) -> _dt.date:
    """Independent oracle for Date::Calc::Add_Delta_YMD month arithmetic
    (the reference's engine, Utils.pm:311): an invalid day-of-month after
    the month shift ROLLS FORWARD into the next month (Feb 31 -> Mar 2/3),
    it is NOT clamped."""
    import calendar as _cal

    months = base.year * 12 + (base.month - 1) + dm
    y, m = months // 12, months % 12 + 1
    days_in = _cal.monthrange(y, m)[1]
    if base.day <= days_in:
        return _dt.date(y, m, base.day)
    return _dt.date(y, m, days_in) + _dt.timedelta(days=base.day - days_in)


@settings(max_examples=200, deadline=None)
@given(today=_days, n=st.integers(1, 400), unit=st.sampled_from("dmy"))
def test_range_window_properties(today, n, unit):
    from_i, to_i = normalise_dates(f"{n}{unit}", None, None, today=today)
    f, t = int_to_date(from_i), int_to_date(to_i)
    assert t == today - _dt.timedelta(days=1)  # default `to` = yesterday
    assert f <= t  # window is never inverted
    if unit == "d":
        assert (t - f).days == n
    elif unit == "m":
        assert f == _date_calc_add_months(t, -n)
    else:
        assert t.year - f.year == min(n, 20)  # 20-year clamp (Utils.pm:230)


@settings(max_examples=200, deadline=None)
@given(base=_days, dm=st.integers(-600, 600))
def test_add_months_matches_date_calc(base, dm):
    assert _add_delta_ymd(base, 0, dm, 0) == _date_calc_add_months(base, dm)


@settings(max_examples=100, deadline=None)
@given(a=_days, b=_days)
def test_get_dates_day_sequence_complete(a, b):
    lo, hi = (a, b) if a <= b else (b, a)
    if (hi - lo).days > 800:  # keep sequences small
        hi = lo + _dt.timedelta(days=(hi - lo).days % 800)
        if hi < lo:
            lo, hi = hi, lo
    from irstats2_spark.functions.dates import date_to_int

    keys = get_dates(date_to_int(lo), date_to_int(hi))
    assert len(keys) == (hi - lo).days + 1
    assert keys[0] == date_to_int(lo) and keys[-1] == date_to_int(hi)
    assert keys == sorted(set(keys))  # no gaps, dups, or disorder


def test_ip_to_long_parses_and_rejects(spark):
    from irstats2_spark.functions.geo import ip_to_long

    cases = [
        ("1.2.3.4", 16909060),
        ("0.0.0.0", 0),
        ("255.255.255.255", 4294967295),
        ("10.0.0.7", 167772167),
        ("256.1.1.1", None),   # octet out of range
        ("1.2.3", None),       # too few octets
        ("1.2.3.4.5", None),   # too many octets
        ("a.b.c.d", None),     # not numeric
        ("", None),
    ]
    df = spark.createDataFrame([(ip,) for ip, _ in cases], "ip string")
    got = {r.ip: r.ipl for r in df.select("ip", ip_to_long(F.col("ip")).alias("ipl")).collect()}
    for ip, want in cases:
        assert got[ip] == want, (ip, got[ip], want)


def test_ensure_parallelism_memoizes_partition_probe(spark):
    """ensure_parallelism must (a) spread a narrow small scan to the
    default parallelism, (b) leave an already-wide input alone, and
    (c) memoize the partition-count probe by semantic hash so repeated
    builds of the same subtree skip the physical-plan materialization
    (r11 verdict #7 — the probe was a full analysis pass per call on
    the hot query-build path)."""
    from irstats2_spark.pipeline import parallel
    from irstats2_spark.pipeline.parallel import ensure_parallelism
    from irstats2_spark.sources.testdata import load_table

    dp = spark.sparkContext.defaultParallelism
    parallel._PARTS_MEMO.clear()

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    out = ensure_parallelism(docs)
    assert out.rdd.getNumPartitions() == dp
    assert len(parallel._PARTS_MEMO) == 1

    # same semantic subtree again: memo hit, no new entry, same result
    docs2 = load_table(spark, "documents", "/root/testdata/sf0.001")
    out2 = ensure_parallelism(docs2)
    assert out2.rdd.getNumPartitions() == dp
    assert len(parallel._PARTS_MEMO) == 1

    # an input at (or above) target passes through un-repartitioned
    wide = docs.repartition(dp)
    assert ensure_parallelism(wide) is wide
