"""URL parsing column expressions (SURVEY §2.8 F1-F3).

Behavioral parity with the reference's parser
(plugins/EPrints/Plugin/Stats/Utils.pm:489-522):

- ``parse_url``: bare digits => ('http', 'localhost', '/<n>'); a value with
  no ':' gets an implicit 'http://'; then one greedy regex splits
  (protocol, hostname, uri). The protocol group is the longest dot-free
  prefix ending at a colon (so 'info:oai:x' parses protocol='info:oai'),
  the hostname group only matches [a-z0-9.-], and a port (':...') is
  folded into the uri remainder.
- ``get_param``: value of ``p=...`` in a uri, terminated by '&' OR '.'
  (the reference quirk — keep it).

All pure Catalyst expressions (regexp_extract / when) — no UDFs, fully
codegen'd and pushdown-safe at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Java-regex equivalent of the reference's parse regex (Utils.pm:506).
_URL_RE = r"^([^.]*):/?/?([a-z0-9.\-]*):?(/?.*)$"


def _prepared(url: Column) -> Column:
    """Newline strip + implicit http:// + bare-number special case."""
    stripped = F.regexp_replace(url, r"\r?\n", "")
    return (
        F.when(stripped.rlike(r"^[0-9]+$"), F.concat(F.lit("http://localhost/"), stripped))
        .when(~stripped.contains(":"), F.concat(F.lit("http://"), stripped))
        .otherwise(stripped)
    )


def url_protocol(url: Column) -> Column:
    return F.regexp_extract(_prepared(url), _URL_RE, 1)


def url_hostname(url: Column) -> Column:
    return F.regexp_extract(_prepared(url), _URL_RE, 2)


def url_uri(url: Column) -> Column:
    return F.regexp_extract(_prepared(url), _URL_RE, 3)


def get_param(uri: Column, param: str) -> Column:
    """F3 (Utils.pm:511-522): first ``param=`` value, stopping at & or '.'.
    Returns NULL (not '') when the parameter is absent, matching the
    reference's undef."""
    pat = f"{param}=([^&.]*)"
    return F.when(uri.rlike(pat), F.regexp_extract(uri, pat, 1))


def percent_decode(col: Column) -> Column:
    """F2: %XX unescape (Referrer.pm:49-50). ``url_decode`` also translates
    '+' to space, which the reference does NOT do — protect '+' first."""
    plus_safe = F.regexp_replace(col, r"\+", "%2B")
    return F.url_decode(F.regexp_replace(plus_safe, "%(?![0-9A-Fa-f]{2})", "%25"))
