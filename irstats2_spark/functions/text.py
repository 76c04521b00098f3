"""Search-term extraction + word normalization (SURVEY §2.8 F6, F14).

Behavior of Processor/Access/SearchTerms.pm:14-198, as DataFrame column
expressions (explode + regexp chains — no Python in the hot path), used
by the one search-terms processor, ``etl.processors.search_terms``:

- downloads only; referrer percent-decoded first;
- internal search (host == base_url or localhost, uri matching
  ``(/secure|)/cgi/search/(simple|advanced)?``): ``q`` for simple,
  title/creators_name/abstract/keywords for advanced;
- google/msn/bing: ``q``; yahoo: ``p``; terms split on '+';
- normalize: strip ["',;.], cut at first '&', trim, strip astral chars,
  lowercase, drop stopwords + words shorter than 2 chars.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from irstats2_spark.functions.urls import get_param, url_hostname, url_uri

# The 45-word ignore list of SearchTerms.pm:15-47 (public stopword list).
STOPWORDS = [
    "or", "of", "at", "and", "in", "to", "the", "a", "an", "for", "how",
    "what", "why", "whom", "which", "into", "on", "is", "are", "have",
    "has", "do", "does", "go", "goes", "with", "com", "by", "up",
]


def normalize_word(col: Column, stopwords: list[str] | None = None) -> Column:
    """F6 normalization (SearchTerms.pm:174-198); NULL for dropped words."""
    w = F.regexp_replace(col, "[\"',;.]", "")
    w = F.regexp_replace(w, "&.*$", "")  # cut at first entity/param separator
    w = F.trim(w)
    w = F.regexp_replace(w, r"[^\x00-￿]", "")  # astral-plane strip (F14)
    w = F.lower(w)
    sw = stopwords if stopwords is not None else STOPWORDS
    return F.when((F.length(w) >= 2) & ~w.isin(sw), w)


def extract_search_terms(
    df: DataFrame,
    referrer_col: str = "referring_entity_id",
    base_url: str | None = None,
    stopwords: list[str] | None = None,
) -> DataFrame:
    """Explode each qualifying referrer into normalized search words.

    Input: a DataFrame of download events (caller applies the is_download
    restriction). Output: input columns + ``word``.
    """
    # Project host/uri ONCE and reference them by name below. Inlining
    # url_hostname()/url_uri() at each of the ~7 use sites duplicates the
    # whole prepare+regex subtree combinatorially, and Catalyst pays for
    # the tree size in driver-side optimization time (~1s per compile of
    # this query) — column reuse keeps the plan linear in the logic size.
    df = df.withColumns(
        {
            "__host": url_hostname(F.col(referrer_col)),
            "__uri": url_uri(F.col(referrer_col)),
        }
    )
    host = F.col("__host")
    uri = F.col("__uri")

    internal = (host == "localhost") | (host == base_url) if base_url else (host == "localhost")
    search_uri = uri.rlike(r"(/secure|)/cgi/search/(simple|advanced)\?")
    simple = uri.rlike(r"(/secure|)/cgi/search/simple\?")

    internal_q = F.when(
        internal & search_uri,
        F.when(simple, get_param(uri, "q")).otherwise(
            # advanced search: the four fielded params, joined so one
            # explode handles all (order of fields preserved)
            F.concat_ws(
                "+",
                *[
                    F.coalesce(get_param(uri, p), F.lit(""))
                    for p in ("title", "creators_name", "abstract", "keywords")
                ],
            )
        ),
    )
    engine_q = (
        F.when(~internal & host.rlike(r"(google|msn|bing)\."), get_param(uri, "q"))
        .when(~internal & host.rlike(r"yahoo\."), get_param(uri, "p"))
    )
    q = F.coalesce(internal_q, engine_q)

    # explode(split(NULL)) yields no rows; a `__q IS NOT NULL` filter would
    # copy the URL parse into generated code past the 64 KB method limit
    words = df.withColumn("__q", q)
    exploded = words.withColumn("__raw", F.explode(F.split(F.col("__q"), r"\+")))
    return (
        exploded.withColumn("word", normalize_word(F.col("__raw"), stopwords))
        .filter(F.col("word").isNotNull())
        .drop("__q", "__raw", "__host", "__uri")
    )
