"""Referrer + browser classification (SURVEY §2.8 F4/F5) as when() chains.

Pure Catalyst expressions — the chains compile into a single codegen'd
CASE WHEN, so classification is a free map-side projection at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from irstats2_spark.functions.urls import url_hostname, url_protocol, url_uri

# Browser signatures (Processor/Access/Browsers.pm:12-25). Match order is
# the Perl string-sort of the *pattern* text (Browsers.pm:56) — reproduced
# literally here; first match wins, else 'Other'.
BROWSER_SIGNATURES_SORTED: list[tuple[str, str]] = [
    ("; AOL", "AOL"),
    ("; Android ", "Android"),
    ("; MSIE ", "Microsoft Internet Explorer"),
    ("; Opera Mobi/", "Opera Mobile"),
    ("Chrome/", "Google Chrome"),
    ("Elinks/", "Elinks"),
    ("Firefox/", "Firefox"),
    ("Navigator/", "Netscape"),
    ("Netscape/", "Netscape"),
    ("Opera/", "Opera"),
    ("Safari/", "Apple Safari"),
    ("\\(BlackBerry;", "BlackBerry"),
]


def classify_browser(ua: Column) -> Column:
    """F5: first matching signature in sorted-pattern order, else Other."""
    expr = None
    for pat, name in BROWSER_SIGNATURES_SORTED:
        # the signatures are regexes (literal text + escaped metachars);
        # Java regex accepts them unchanged, rlike is unanchored like Perl's =~
        cond = ua.rlike(pat)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return expr.otherwise(F.lit("Other"))


def classify_referrer(
    referrer: Column,
    host: str | None = None,
    local_domains: dict[str, str] | None = None,
) -> Column:
    """F4 (Referrer.pm:61-116) over a raw referrer: ``referrer_label``."""
    proto, uri = url_protocol(referrer), url_uri(referrer)
    return referrer_label(proto, url_hostname(referrer), uri, host, local_domains)


def referrer_label(
    proto: Column,
    hostname: Column,
    uri: Column,
    host: str | None = None,
    local_domains: dict[str, str] | None = None,
) -> Column:
    """F4 (Referrer.pm:61-116): a referrer's protocol, hostname and URI ->
    label; NULL when the hostname fails to parse (record skipped upstream).

    ``host`` is the repository's own hostname; ``local_domains`` maps
    label -> hostname-regex for locally configured domains.
    """
    expr = (
        F.when(hostname == "localhost", F.lit("Internal (Abstract page)"))
        .when(proto == "info:oai", F.lit("Internal (OAI-PMH)"))
    )
    if host:
        own = hostname == host
        expr = (
            expr.when(own & uri.rlike(r"^/\d+$"), F.lit("Internal (Abstract page)"))
            .when(own & uri.rlike(r"^/cgi/search/"), F.lit("Internal (Search)"))
            .when(own & uri.rlike(r"^/view/"), F.lit("Internal (Browse view)"))
            .when(own & uri.rlike(r"^/cgi/latest"), F.lit("Internal (Latest Additions)"))
            .when(own & uri.rlike(r"^/profile/"), F.lit("Internal (MePrints Profile Page)"))
            .when(own, F.lit("Internal"))
        )
    expr = (
        expr.when(hostname.rlike(r"google\."), F.lit("Google"))
        .when(hostname.rlike(r"yahoo\."), F.lit("Yahoo"))
        .when(hostname.rlike(r"(msn|bing)\."), F.lit("MSN/Bing"))
        .when(hostname.rlike(r"facebook\."), F.lit("Facebook"))
    )
    for label, pattern in (local_domains or {}).items():
        expr = expr.when(hostname.rlike(pattern), F.lit(label))
    # unknown => raw hostname; unparsable => NULL
    return expr.otherwise(F.when(hostname != "", hostname))


def referrer_labelled(
    proto: Column,
    hostname: Column,
    local_domains: dict[str, str] | None = None,
) -> Column:
    """True exactly where ``referrer_label`` is not NULL: every branch but
    OAI-PMH and a local-domain pattern needs a non-empty hostname."""
    keep = (hostname != "") | (proto == "info:oai")
    for pattern in (local_domains or {}).values():
        keep = keep | hostname.rlike(pattern)
    return keep
